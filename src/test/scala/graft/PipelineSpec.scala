package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q15 LSH pairs are ordered, deduped, above threshold") {
    val rows = SparkEntry.queries("q15_lsh_near_dups")(spark, sf).collect()
    assert(rows.nonEmpty, "expected planted near-dups to be found")
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Double]("jaccard") >= 0.8)
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("q15 LSH finds a planted exact near-dup (sanity vs brute force)") {
    // Brute-force the true >=0.8 shingle-jaccard pairs on the small SF
    // and check LSH found all of them (16/4-band LSH at j>=0.8 has
    // ~100% recall).
    val d = Tables.documents(spark, sf)
    val sh = d.select(col("doc_id"),
      graft.functions.TextFunctions.shingleSet(col("text"), 3).as("sh"))
    val a = sh.select(col("doc_id").as("ida"), col("sh").as("sha"))
    val b = sh.select(col("doc_id").as("idb"), col("sh").as("shb"))
    val brute = a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("double"))
      .withColumn("j", col("inter") / (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("j") >= 0.8)
      .select(col("ida"), col("idb")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q15_lsh_near_dups")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(lsh), s"LSH missed: ${brute -- lsh}")
  }

  test("q19 ranks are dense and cosine bounded") {
    val rows = SparkEntry.queries("q19_knn_brute")(spark, sf).collect()
    assert(rows.length == 15) // 3 anchors x top5
    rows.groupBy(_.getAs[Long]("anchor_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5))
    }
    rows.foreach(r => assert(math.abs(r.getAs[Double]("cos_sim")) <= 1.0))
  }

  test("q21 ANN candidates agree with brute force where buckets overlap") {
    val ann = SparkEntry.queries("q21_ann_lsh")(spark, sf).collect()
    // rows-only oracle: assert shape invariants
    ann.groupBy(_.getAs[Long]("anchor_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.sameElements(1 to ranks.length))
    }
  }

  test("q24 embedding near-dup pairs: LSH candidates ⊆ exact pairs") {
    import graft.functions.Similarity
    val exact = SparkEntry.queries("q24_embedding_dups")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))).toSet
    assert(exact.nonEmpty)
    exact.foreach { case (a, b) => assert(a < b) }
    val lsh = Similarity
      .nearDupPairsLsh(graft.Tables.embeddings(spark, sf), threshold = 0.45)
      .collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))).toSet
    assert(lsh.subsetOf(exact)) // bucketing only prunes, never invents
  }

  test("multimodal transform stage: resize/frame shapes, executor-local") {
    import graft.functions.Multimodal
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val out = Multimodal.transformMedia(docs, "doc_id", "payload",
      outLen = 64, nFrames = 4, frameLen = 16)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val payloads = docs.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { r =>
      val bytes = payloads(r.getLong(0))
      val resized = r.getAs[Array[Byte]]("resized")
      assert(resized.length == (if (bytes.isEmpty) 0 else 64))
      // resampled bytes come from the source payload
      if (bytes.nonEmpty) assert(resized.toSet.subsetOf(bytes.toSet))
      val frames = r.getSeq[Array[Byte]](2)
      assert(frames.length == 4)
      frames.foreach { f =>
        assert(f.length <= 16)
        if (bytes.length >= 16) assert(f.length == 16)
        // each frame is a contiguous window of the payload
        assert(new String(bytes, "ISO-8859-1")
          .contains(new String(f, "ISO-8859-1")))
      }
    }
    // Deterministic: a second run yields identical bytes.
    val again = Multimodal.transformMedia(docs, "doc_id", "payload",
      outLen = 64, nFrames = 4, frameLen = 16).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized").toSeq).toMap
    rows.foreach(r =>
      assert(again(r.getLong(0)) == r.getAs[Array[Byte]]("resized").toSeq))
  }

  test("q26 stub features are [0,1) and deterministic") {
    val f = SparkEntry.queries("q26_multimodal_features")(spark, sf).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      (1 to 8).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v < 1.0)
      }
    }
  }

  test("q27 winnowing: identical texts share fingerprints, windows are mins") {
    val rows = SparkEntry.queries("q27_winnow_fingerprint")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0) // n_shingles
      assert(r.getLong(2) <= math.max(r.getLong(1) - 3, 0)) // wins ⊆ windows
      assert(r.getString(3).length == 32) // md5 hex
    }
    // Exact-duplicate texts (q12 found some at this SF) must agree on
    // the winnowing fingerprint: same text ⇒ same shingles ⇒ same mins.
    val d = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val byText = d.groupBy(_._2).values.filter(_.length > 1)
    val fp = rows.map(r => r.getLong(0) -> r.getString(3)).toMap
    byText.foreach { grp =>
      val fps = grp.map { case (id, _) => fp(id) }.distinct
      assert(fps.length == 1, s"dup texts ${grp.map(_._1).toSeq} disagree")
    }
  }

  test("q30 simhash near-dups: exact-dup texts at hamming 0, bound holds") {
    val rows = SparkEntry.queries("q30_simhash_dups")(spark, sf).collect()
    assert(rows.nonEmpty) // the planted exact dups collide at hamming 0
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 3)
    }
    // Every exact-duplicate text pair (same md5) must appear at 0.
    val byText = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
      .groupBy(_._2).values.filter(_.length > 1)
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    byText.foreach { grp =>
      val ids = grp.map(_._1).sorted
      for (a <- ids; b <- ids if a < b)
        assert(got.get((a, b)).contains(0L), s"missing exact-dup pair ($a,$b)")
    }
  }

  test("q29 int8 quantization: bounded values, deterministic checksum") {
    val rows = SparkEntry.queries("q29_quantize_int8")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0.0) // max|x|
      // |q_i| ≤ 127 ⇒ |sum over 64 dims| ≤ 64·127
      assert(math.abs(r.getLong(2)) <= 64L * 127L)
      assert(r.getString(3).length == 32)
    }
    val again = SparkEntry.queries("q29_quantize_int8")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getString(3)))
  }

  test("q28 clusters: labels are component minima over the pair graph") {
    val pairs = SparkEntry.queries("q24b_embedding_dups_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = SparkEntry.queries("q28_dup_clusters")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // Every paired node is labeled; both ends of an edge share a label
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"edge ($a,$b) split across clusters")
    }
    // The label IS a member of its own cluster and is the minimum
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keySet.contains(lbl))
      assert(members.keys.min == lbl)
    }
    // The whole lineage (LSH pairs + propagation) stays equi-join only.
    val plan = SparkEntry.queries("q28_dup_clusters")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("hot-bucket triangle salting is exact: same pairs as plain join") {
    import spark.implicits._
    import graft.functions.Similarity
    // 40 identical embeddings land in ONE bucket per band; with
    // maxBucket=8 the salted path activates (s = 5 shards). Exactness:
    // every C(40,2) pair must survive, matching the unsalted join.
    val base = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val df = (0L until 40L).map(id => (id, base)).toDF("vec_id", "embedding")
    def pairs(maxBucket: Int) =
      Similarity.nearDupPairsLsh(df, threshold = 0.99, maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = pairs(8)
    val plain = pairs(Int.MaxValue)
    assert(salted == plain)
    assert(salted.size == 40 * 39 / 2, s"got ${salted.size}")
    salted.foreach { case (a, b) => assert(a < b) }
  }

  test("q24b banded-LSH plan has no nested-loop/cartesian join") {
    val df = SparkEntry.queries("q24b_embedding_dups_lsh")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // And it still finds at least one confirmed near-dup pair
    assert(df.count() > 0)
  }

  test("q25 IVF plan: broadcast candidate join, no nested-loop/cartesian") {
    // Pins the plan shape behind the bench number (VERDICT r6 flagged
    // unexplained creep): anchors must reach the corpus through a
    // BROADCAST equi-join on the cell key — never a nested loop — and
    // the ranking window is the only wide shuffle.
    val plan = SparkEntry.queries("q25_ann_ivf")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q25 IVF ANN: dense ranks, bounded cosine, hits its probed cells") {
    val ivf = SparkEntry.queries("q25_ann_ivf")(spark, sf).collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getAs[Long]("anchor_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted
      assert(ranks.sameElements(1 to ranks.length))
      rs.foreach(r => assert(math.abs(r.getAs[Double]("cos_sim")) <= 1.0))
    }
    // IVF scores must agree with brute force for the pairs it returns
    val brute = SparkEntry.queries("q19_knn_brute")(spark, sf).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cos_sim")).toMap
    ivf.foreach { r =>
      val key = (r.getAs[Long]("anchor_id"), r.getAs[Long]("vec_id"))
      brute.get(key).foreach(c => assert(c == r.getAs[Double]("cos_sim")))
    }
  }

  test("simhash values are 32-bit") {
    val rows = SparkEntry.queries("q16_simhash")(spark, sf).collect()
    rows.foreach { r =>
      val v = r.getAs[Long]("simhash32")
      assert(v >= 0L && v < (1L << 32))
    }
  }

  test("multimodal metadata is a pure function of the payload") {
    val rows = SparkEntry.queries("q22_multimodal_meta")(spark, sf)
      .limit(5).collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("width") == (r.getAs[Long]("n_bytes") % 640).toInt)
      assert(r.getAs[String]("content_hash").length == 32)
    }
  }

  test("streaming hourly counts conserve total events") {
    val out = SparkEntry.queries("q23_stream_hourly")(spark, sf)
    val total = out.agg(sum(col("n_events"))).collect()(0).getLong(0)
    val expected = Tables.events(spark, sf).count()
    assert(total == expected)
  }

  test("LSH near-dup: sub-shingle-length docs never pair (no NaN jaccard)") {
    import spark.implicits._
    // Three docs shorter than the 3-word shingle, which used to share
    // the degenerate md5('') band hash and verify at 0/0 = NaN, plus a
    // genuine near-dup pair that must still be found.
    val docs = Seq(
      (1L, "hi"), (2L, "ok"), (3L, "one two"),
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"),
    ).toDF("doc_id", "text")
    val pairs = graft.functions.Dedup
      .lshNearDupPairs(spark, docs, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 11L)))
    pairs.foreach(r => assert(!r.getAs[Double]("jaccard").isNaN))
  }

  test("LSH at a second (k=32, bands=8, n=2) config: params thread end-to-end") {
    import spark.implicits._
    import graft.expressions.Sketches
    // Second operating point of the banded-minhash family (q54's
    // config). Three properties pin the parameterization:
    //  1. prefix stability — sig(k=32) extends sig(k=16) verbatim, so
    //     widening k never perturbs existing 16-seed consumers;
    //  2. precision — every emitted pair's jaccard equals the exact
    //     2-gram brute-force value and clears the threshold;
    //  3. recall floor — identical docs collide in EVERY band, so
    //     exact-dup pairs are always found at any (k, bands).
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // near-dup of 1
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact dup of 1
      (4L, "one two three four five six seven eight nine"),
      (5L, "totally different words with no overlap at all"),
    ).toDF("doc_id", "text")
    val sigs = docs.select(
      Sketches.minhashSigFromWords(spark, split(col("text"), " "), 2, 32).as("s32"),
      Sketches.minhashSigFromWords(spark, split(col("text"), " "), 2, 16).as("s16"))
      .collect()
    sigs.foreach { r =>
      assert(r.getAs[collection.Seq[Long]]("s32").take(16) ==
        r.getAs[collection.Seq[Long]]("s16"))
      assert(r.getAs[collection.Seq[Long]]("s32").length == 32)
    }
    val got = graft.functions.Dedup.lshNearDupPairs(spark, docs, "doc_id",
        "text", k = 32, bands = 8, shingleN = 2, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def shingles2(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    val texts = Map(1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta iota",
      3L -> "alpha beta gamma delta epsilon zeta eta theta")
    got.foreach { case (a, b, j) =>
      val (sa, sb) = (shingles2(texts(a)), shingles2(texts(b)))
      val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - math.rint(exact * 1e4) / 1e4) < 1e-12)
      assert(j >= 0.7)
    }
    assert(got.map(p => (p._1, p._2)).contains((1L, 3L)), "exact dup must be found")
    assert(got.map(p => (p._1, p._2)).contains((1L, 2L)), "planted near-dup (6/8 shared 2-grams = 0.75)")
  }

  test("sketch expressions tolerate empty and null-element word arrays") {
    import spark.implicits._
    import graft.expressions.Sketches
    val df = Seq(
      (1L, Seq[String]("a")),                       // < n words: empty shingle set
      (2L, Seq[String]("x", null, "z", "w")),       // null element: no NPE
    ).toDF("id", "w")
    // empty vs empty shingle sets → 0.0, not NaN
    val jEmpty = df.filter($"id" === 1L)
      .select(Sketches.shingleJaccard(spark, $"w", $"w").as("j"))
      .collect()(0).getDouble(0)
    assert(jEmpty == 0.0)
    // identical null-bearing arrays → jaccard 1.0, signature non-null
    val r = df.filter($"id" === 2L).select(
      Sketches.shingleJaccard(spark, $"w", $"w").as("j"),
      Sketches.minhashSigFromWords(spark, $"w").as("sig")).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getAs[Seq[Long]]("sig").forall(_ >= 0L))
  }

  test("bpeTokenCount follows its column argument, not a hardcoded name") {
    import spark.implicits._
    val df = Seq("Hello, world 42!").toDF("body")
    val n = df.select(graft.functions.TextFunctions
      .bpeTokenCount(col("body")).as("n")).collect()(0).getInt(0)
    // hello | , | world | 42 | !
    assert(n == 5)
  }

  test("q31 chunks tile each document: stride-spaced starts, clamped tails") {
    val rows = SparkEntry.queries("q31_text_chunks")(spark, sf).collect()
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(graft.functions.TextFunctions.words(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("chunk_idx"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("chunk_idx") == i)
        assert(r.getAs[Long]("chunk_start") == i * 24L)
        assert(r.getAs[Long]("n_chunk_tokens") > 0 &&
          r.getAs[Long]("n_chunk_tokens") <= 32)
      }
      // the last chunk reaches exactly the end of the token list
      val last = sorted.last
      assert(last.getAs[Long]("chunk_start") + last.getAs[Long]("n_chunk_tokens") == nTok(doc))
      // and no extra chunk would fit: second-to-last must end before n
      if (sorted.length > 1)
        assert(sorted(sorted.length - 2).getAs[Long]("chunk_start") + 32L < nTok(doc) + 24L)
    }
  }

  test("q31 plan is map-only: no shuffle exchange anywhere") {
    val plan = SparkEntry.queries("q31_text_chunks")(spark, sf)
      .queryExecution.executedPlan.toString
    // the trailing orderBy is a range-partition sort for presentation;
    // everything before it must be generate/project over the scan
    assert(!plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q32 top-3 TF-IDF ranks are dense, ordered, integer-exact") {
    val rows = SparkEntry.queries("q32_tfidf_terms")(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rn"))
      assert(sorted.map(_.getAs[Long]("rn")).sameElements(1L to sorted.length))
      // scores non-increasing; equal scores tie-break by term asc
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (sa, sb) = (a.getAs[Long]("tfidf_micro"), b.getAs[Long]("tfidf_micro"))
          assert(sa > sb || (sa == sb &&
            a.getAs[String]("term") < b.getAs[String]("term")))
        case _ => ()
      }
      val terms = sorted.map(_.getAs[String]("term"))
      assert(terms.distinct.length == terms.length)
    }
  }

  test("q33 split is a pure function of doc_id with correct thresholds") {
    val rows = SparkEntry.queries("q33_train_split")(spark, sf).collect()
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(b >= 0 && b < 100)
      val expected = if (b < 90) "train" else if (b < 95) "validation" else "test"
      assert(r.getAs[String]("split") == expected)
    }
    // determinism: identical assignment on a re-run
    val again = SparkEntry.queries("q33_train_split")(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("q34 dedup-apply keeps exactly the cluster representatives") {
    val rows = SparkEntry.queries("q34_dedup_apply")(spark, sf).collect()
    val canon = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    rows.foreach { r =>
      val (id, c, kept) = (r.getAs[Long]("doc_id"), r.getAs[Long]("canonical_id"),
        r.getAs[Boolean]("is_kept"))
      assert(c <= id)              // min-id representative
      assert(kept == (c == id))    // kept iff canonical
      assert(canon(c) == c)        // the canonical doc is itself kept
    }
    // every near-dup pair collapses to one canonical id
    SparkEntry.queries("q15_lsh_near_dups")(spark, sf).collect().foreach { p =>
      assert(canon(p.getAs[Long]("doc_a")) == canon(p.getAs[Long]("doc_b")))
    }
  }

  test("q38 exact n-gram Jaccard matches a driver-side brute force") {
    import graft.functions.TextFunctions
    val rows = SparkEntry.queries("q38_ngram_jaccard")(spark, sf).collect()
    assert(rows.nonEmpty, "expected planted near-dups to pair")
    // brute force over plain Scala sets, WITHOUT the df prune: every
    // reported pair must carry the true Jaccard of the full sets, and
    // every qualifying pair that shares at least one rare shingle must
    // be reported.
    val all = Tables.documents(spark, sf)
      .select(col("doc_id"), TextFunctions.shingleSet(col("text"), 4).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty)
    val df = all.flatMap(_._2).groupBy(identity).view.mapValues(_.length)
    val rare = all.map { case (id, sh) => id -> sh.filter(df(_) <= 64) }.toMap
    val expected = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      if (rare(a) intersect rare(b)).nonEmpty
      inter = (sa intersect sb).size
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.5
    } yield (a, b) -> (inter.toLong, j)).toMap
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expected.keySet)
    rows.foreach { r =>
      val k = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert((r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard")) ==
        expected(k), s"pair $k")
    }
    // scale shape: shingle equi-join only — never a nested loop over
    // the corpus
    val plan = SparkEntry.queries("q38_ngram_jaccard")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q39 repetition signals match a driver-side brute force") {
    val rows = SparkEntry.queries("q39_repetition")(spark, sf).collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = texts(id).trim.split(" ", -1)
      val grams = w.sliding(2).map(_.mkString(" ")).toSeq
      val cnts = grams.groupBy(identity).view.mapValues(_.length)
      assert(r.getAs[Long]("n_bigrams") == grams.length, s"doc $id")
      assert(r.getAs[Long]("max_bigram_count") == cnts.values.max, s"doc $id")
      assert(r.getAs[Long]("n_repeated_bigrams") ==
        cnts.values.filter(_ > 1).sum, s"doc $id")
      assert(r.getAs[Double]("top_bigram_frac") <= 1.0)
      assert(r.getAs[Double]("repeated_frac") <= 1.0)
    }
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == texts.keySet
      .filter(id => texts(id).trim.split(" ", -1).length >= 2))
  }

  test("q40 unigram surprisal matches a driver-side brute force") {
    val rows = SparkEntry.queries("q40_unigram_surprisal")(spark, sf).collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    val allToks = texts.values.toSeq.flatMap(_.trim.split(" ", -1))
    val n = allToks.length.toDouble
    val freq = allToks.groupBy(identity).view.mapValues(_.length).toMap
    val sm = freq.map { case (t, c) =>
      t -> math.round(math.log10(n / c) * 1e6) }
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val toks = texts(id).trim.split(" ", -1).toSeq
      assert(r.getAs[Long]("n_tokens") == toks.length, s"doc $id")
      val total = toks.map(sm).sum
      assert(r.getAs[Long]("surprisal_micro_total") == total, s"doc $id")
      // integer-exact half-up: (2a·10^4 + b) / 2b over longs, then one
      // exact widening — mirrors PipelineQueries.rdiv4
      val den = toks.length.toLong * 1000000L
      assert(r.getAs[Double]("avg_surprisal") ==
        ((total * 20000L + den) / (2L * den)).toDouble / 10000.0, s"doc $id")
    }
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == texts.keySet)
    // the score genuinely discriminates on this corpus (it would be
    // vacuous if every doc scored identically)
    assert(rows.map(_.getAs[Double]("avg_surprisal")).distinct.length > 1)
  }

  test("q41 sequence packing matches a driver-side greedy concat-and-chunk") {
    val rows = SparkEntry.queries("q41_sequence_packing")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pack_bucket"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("bin_in_bucket"), r.getAs[Long]("offset_in_bin")))
      .toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == texts.keySet)
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"pack:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16) % 16
    }
    // replay the packing stream per bucket in doc_id order
    texts.keys.toSeq.sorted.groupBy(bucket).foreach { case (b, ids) =>
      var cum = 0L
      ids.foreach { id =>
        val n = texts(id).trim.split(" ", -1).length.toLong
        val (gotB, gotN, gotBin, gotOff) = rows(id)
        assert(gotB == b && gotN == n, s"doc $id")
        assert(gotBin == cum / 512, s"doc $id bin")
        assert(gotOff == cum % 512, s"doc $id offset")
        cum += n
      }
    }
    // packing is tight: inside a bucket, consecutive bins never skip
    rows.values.groupBy(_._1).values.foreach { vs =>
      val bins = vs.map(_._3).toSeq.sorted.distinct
      assert(bins == (bins.head to bins.last), "gap in bin numbering")
    }
  }

  test("q42 cross-split contamination agrees with q15 pairs + q33 buckets") {
    val rows = SparkEntry.queries("q42_cross_split_contamination")(spark, sf)
      .collect()
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16) % 100
    }
    val allIds = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // the report covers the test split exactly
    assert(rows.map(_.getAs[Long]("doc_id")).toSet ==
      allIds.filter(bucket(_) >= 95))
    // ground truth from the (already brute-force-verified) q15 pairs
    val pairs = SparkEntry.queries("q15_lsh_near_dups")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard")))
    val expected = pairs.flatMap { case (a, b, j) =>
      if (bucket(a) >= 95 && bucket(b) < 90) Seq((a, b, j))
      else if (bucket(b) >= 95 && bucket(a) < 90) Seq((b, a, j))
      else Seq.empty
    }.groupBy(_._1).view
      .mapValues(_.maxBy(p => (p._3, p._2))).toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      expected.get(id) match {
        case Some((_, train, j)) =>
          assert(r.getAs[Boolean]("is_contaminated"), s"doc $id")
          assert(r.getAs[Long]("best_train_doc") == train, s"doc $id")
          assert(r.getAs[Double]("best_jaccard") == j, s"doc $id")
        case None =>
          assert(!r.getAs[Boolean]("is_contaminated"), s"doc $id")
          assert(r.isNullAt(r.fieldIndex("best_train_doc")), s"doc $id")
      }
    }
  }

  test("q36 contamination matches a driver-side brute force") {
    import graft.functions.TextFunctions
    val rows = SparkEntry.queries("q36_contamination")(spark, sf).collect()
    // brute force with plain Scala sets
    val all = Tables.documents(spark, sf)
      .select(col("doc_id"), TextFunctions.shingleSet(col("text"), 5).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16) % 100
    }
    val trainSh = all.collect { case (id, sh) if bucket(id) < 90 => sh }
      .foldLeft(Set.empty[String])(_ ++ _)
    val testIds = all.keySet.filter(bucket(_) >= 95)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == testIds)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nCont = all(id).count(trainSh.contains)
      assert(r.getAs[Long]("n_shingles") == all(id).size)
      assert(r.getAs[Long]("n_contaminated") == nCont, s"doc $id")
    }
    // scale shape: the shingle meet is an equi-join, never a broadcast
    // nested loop / cartesian over the corpus
    val plan = SparkEntry.queries("q36_contamination")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q37 streaming sessions equal batch gaps-and-islands") {
    import org.apache.spark.sql.expressions.Window
    val streamed = SparkEntry.queries("q37_stream_sessions")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val gapUs = 1800000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts div 1000").as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("us") - col("prev") >= gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("us")).as("s"), (max(col("us")) + gapUs).as("e"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("s"),
        r.getAs[Long]("e"), r.getAs[Long]("n"))).toSet
    assert(streamed == batch)
    // sessions are disjoint per user and separated by >= the gap
    streamed.groupBy(_._1).values.foreach { ss =>
      ss.toSeq.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(b._2 >= a._3, s"overlap: $a $b")
        case _ => ()
      }
    }
  }

  test("q23b append-mode hours = complete-mode hours up to the watermark") {
    // Same contract as the q37b subset test, for the tumbling-window
    // operator: append emits exactly the hours whose END the final
    // watermark passed, evicting their state — a strict subset of the
    // complete drain, duplicate-free, with the newest hour(s) held.
    val appended = SparkEntry.queries("q23b_stream_hourly_append")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(appended.length == appended.distinct.length, "duplicate emissions")
    val complete = SparkEntry.queries("q23_stream_hourly")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val maxUs = Tables.events(spark, sf)
      .agg(max(expr("ts div 1000"))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000L - 3600000L) * 1000L
    val expected = complete.filter(_._1 + 3600000000L <= wmUs).toSet
    assert(appended.toSet == expected,
      s"missing=${expected -- appended.toSet} extra=${appended.toSet -- expected}")
    assert(appended.length < complete.length,
      "append emitted everything — watermark eviction did not engage")
  }

  test("q23b pins the inclusive watermark boundary for tumbling windows") {
    // Two events two hours apart, each a whole hour boundary: the final
    // watermark is base+2h − 1h = base+1h, exactly the END of the first
    // hour bucket — inclusive (`end <= watermark`) emission must emit
    // hour 0 and hold hour 2 (which carries the max event time).
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_wm23_").toString
    val base = 1700000000000000000L - (1700000000000000000L % 3600000000000L)
    val hour = 3600L * 1000000000L
    val rows = Seq(
      (1L, base, 1L, "a", 0.0, "{}"),
      (2L, base + 2L * hour, 2L, "a", 0.0, "{}"))
    graft.queries.FixtureIO.writeStable(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")),
      s"$tmp/stage")
    assert(new java.io.File(s"$tmp/stage/data.parquet")
      .renameTo(new java.io.File(s"$tmp/events.parquet")))
    val out = graft.streaming.StreamingJobs.hourlyEventCountsAppend(spark, tmp)
      .collect()
    assert(out.length == 1 &&
      out.head.getAs[Long]("hour_us") == base / 1000L &&
      out.head.getAs[Long]("n_events") == 1L,
      s"expected exactly the base hour, got ${out.mkString(", ")}")
  }

  test("q37b append-mode sessions = complete-mode sessions up to the watermark") {
    // Append mode emits a session exactly once, when the final
    // watermark (max event time − 1 h) passes its end — so the result
    // must equal q37's complete drain FILTERED to that horizon: a
    // strict subset proving eviction actually happened (sessions near
    // the stream end stay open), with no duplicates and no extras.
    val appended = SparkEntry.queries("q37b_stream_sessions_append")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(appended.length == appended.distinct.length, "duplicate emissions")
    val complete = SparkEntry.queries("q37_stream_sessions")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val maxUs = Tables.events(spark, sf)
      .agg(max(expr("ts div 1000"))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000L - 3600000L) * 1000L
    val expected = complete.filter(_._3 <= wmUs).toSet
    assert(appended.toSet == expected,
      s"missing=${expected -- appended.toSet} extra=${appended.toSet -- expected}")
    assert(appended.length < complete.length,
      "append emitted everything — watermark eviction did not engage")
  }

  test("q37b pins the inclusive, ms-floored watermark eviction boundary") {
    // The fixture above never lands a session exactly ON the watermark,
    // so an off-by-one in the eviction rule (emit when end <= watermark,
    // watermark = ms-FLOORED max event time − 1 h) would pass unnoticed.
    // Three single-event sessions:
    //   user 1 ends EXACTLY at the watermark            → must emit
    //   user 2 ends 999 µs past it (inside the floored
    //          millisecond — a raw-ns watermark would
    //          include it)                               → must not
    //   user 3 carries the max event time (still open)  → must not
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_wm_").toString
    val base = 1700000000000000000L // ns, whole second
    val sec = 1000000000L
    val rows = Seq(
      (1L, base, 1L, "a", 0.0, "{}"),
      (2L, base + 999999L, 2L, "a", 0.0, "{}"),
      (3L, base + 5400L * sec + 999999L, 3L, "a", 0.0, "{}"))
    graft.queries.FixtureIO.writeStable(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        // the driver's current events encoding: TIMESTAMP(MICROS) NTZ
        // (999999 ns floors to 999 µs — still inside the watermark's
        // floored millisecond, which is what user 2 exercises)
        .withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")),
      s"$tmp/stage")
    assert(new java.io.File(s"$tmp/stage/data.parquet")
      .renameTo(new java.io.File(s"$tmp/events.parquet")))
    val out = graft.streaming.StreamingJobs.userSessionsAppend(spark, tmp)
      .collect()
    assert(out.map(_.getAs[Long]("user_id")).toSeq == Seq(1L),
      s"expected exactly user 1's session, got ${out.mkString(", ")}")
    assert(out.head.getAs[Long]("session_start_us") == base / 1000L)
    assert(out.head.getAs[Long]("session_end_us") ==
      base / 1000L + 1800L * 1000000L)
  }

  test("q35 streaming dedup equals batch count-distinct") {
    val streamed = SparkEntry.queries("q35_stream_dedup_users")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("q45 mixture sampling: per-source rates honored, reshuffle-proof") {
    val rows = SparkEntry.queries("q45_source_mix")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length < 500, "must actually downsample")
    val rates = rows.map(_.getAs[Double]("keep_rate")).distinct.sorted
    assert(rates.forall(Set(0.25, 0.5, 0.75, 1.0)), s"bad rates ${rates.toSeq}")
    assert(rates.length >= 2, "expected several distinct source rates")
    // a source at rate 1.0 keeps every doc it has
    val full = rows.filter(_.getAs[Double]("keep_rate") == 1.0)
      .map(_.getAs[String]("source")).toSet
    if (full.nonEmpty) {
      val totals = Tables.documents(spark, sf)
        .filter(col("source").isin(full.toSeq: _*))
        .groupBy(col("source")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = rows.filter(r => full(r.getAs[String]("source")))
        .groupBy(_.getAs[String]("source")).view.mapValues(_.length)
      kept.foreach { case (src, n) => assert(n.toLong == totals(src), src) }
    }
    // determinism: same result on a repartitioned input path
    val again = SparkEntry.queries("q45_source_mix")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(again == rows.map(_.getLong(0)).toSet)
  }

  test("q46 filter cascade: reasons follow priority, keep = no flags") {
    val rows = SparkEntry.queries("q46_filter_cascade")(spark, sf).collect()
    assert(rows.length == 500)
    val reasons = rows.map(_.getAs[String]("reject_reason")).distinct
    assert(reasons.contains(""), "some docs must pass the cascade")
    assert(reasons.count(_.nonEmpty) >= 2, s"expected ≥2 reject reasons, got ${reasons.toSeq}")
    rows.foreach { r =>
      val flags = Seq("too_short", "high_punct", "low_stopwords", "repetitive")
        .map(c => c -> r.getAs[Boolean](c))
      val expectReason = flags.find(_._2).map(_._1).getOrElse("")
      assert(r.getAs[String]("reject_reason") == expectReason,
        s"doc ${r.getLong(0)}: priority violated")
      assert(r.getAs[Boolean]("keep") == flags.forall(!_._2))
    }
  }

  test("q47 boilerplate: flags cross-doc repeated windows, fraction bounded") {
    val rows = SparkEntry.queries("q47_boilerplate")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Long]("n_boilerplate") > 0),
      "planted near-dups must surface shared windows")
    rows.foreach { r =>
      val (n, bp) = (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_boilerplate"))
      assert(bp >= 0 && bp <= n)
      val f = r.getAs[Double]("boilerplate_frac")
      assert(f >= 0.0 && f <= 1.0)
    }
    // a window counts as boilerplate only across >=3 DISTINCT docs:
    // docs made of unique text must report 0
    assert(rows.count(_.getAs[Long]("n_boilerplate") == 0) > rows.length / 2)
  }

  test("q48 streaming custom-state near-dup equals batch signature grouping") {
    val streamed = SparkEntry.queries("q48_stream_near_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty, "planted dups must collide on the signature")
    streamed.foreach { case (doc, canon) => assert(canon < doc) }
    // batch twin inside Spark: identical 16-minhash signature ⇒ dup of
    // the group minimum
    val d = Tables.documents(spark, sf)
      .withColumn("w", graft.functions.TextFunctions.words(col("text")))
      .filter(size(col("w")) >= 3)
      .withColumn("sig",
        graft.expressions.Sketches.minhashSigFromWords(spark, col("w")))
      .select(col("doc_id"), col("sig").cast("string").as("k"))
    val batch = d.groupBy(col("k"))
      .agg(min(col("doc_id")).as("canon"), collect_list(col("doc_id")).as("ids"))
      .select(explode(col("ids")).as("doc_id"), col("canon"))
      .filter(col("doc_id") > col("canon"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"missing=${batch -- streamed} extra=${streamed -- batch}")
  }

  /** 4-batch eviction drive for q48b: dup pair (1,2) in batch 1;
    * batch 2 advances the watermark far past state A's event-time
    * horizon; batch 3 re-sees signature B — the 5000s gap after doc
    * 20000 EXCEEDS the 3600s TTL, but eviction is lazy: B's timeout
    * (23600s) has not yet been passed by the watermark (16400s), so
    * the key survives and (25000, 20000) IS emitted; eviction only
    * fires once the watermark crosses a key's timeout with no new
    * data for it (under the pre-fix watermark-anchored timeout B was
    * evicted prematurely and this dup was lost). Meanwhile A, idle
    * past its horizon, is evicted;
    * batch 4 re-sees A's text — the canon must RESET to 30000 (state
    * was forgotten), not resolve to 1 as unbounded q48 would.
    */
  private def driveQ48bEviction(s: org.apache.spark.sql.SparkSession,
      name: String): Set[(Long, Long)] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val a = "alpha beta gamma delta epsilon"
    val b = "one two three four five six"
    val ms = MemoryStream[(Long, String)]
    val dups = graft.streaming.StreamingJobs.nearDupBoundedStream(
      s, ms.toDF().toDF("doc_id", "text"), ttlMs = 3600L * 1000L)
    val q = dups.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData((1L, a), (2L, a))
      q.processAllAvailable() // A: canon=1, timeout = 2s+1h event time
      ms.addData((20000L, b))
      q.processAllAvailable() // wm → 20000s-1h ≫ A's horizon; A idle
      ms.addData((25000L, b))
      q.processAllAvailable() // B re-seen in-TTL → (25000,20000);
                              // A has no data ⇒ hasTimedOut ⇒ evicted
      ms.addData((30000L, a), (30001L, a))
      q.processAllAvailable() // fresh state: canon resets to 30000
      s.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally {
      q.stop(); s.catalog.dropTempView(name)
    }
  }

  test("q48b TTL eviction forgets signatures idle past the horizon") {
    val got = driveQ48bEviction(spark, "q48b_evict_test")
    assert(got == Set((2L, 1L), (25000L, 20000L), (30001L, 30000L)),
      s"expected in-TTL dup + eviction reset, got $got")
  }

  test("q48/q48b canon is FIRST-SEEN: a smaller id in a later batch is the dup") {
    // Review find (r9): under min-so-far a later-but-smaller doc_id
    // silently replaced the canonical and NEITHER doc was ever
    // reported — a lost dup pair in the multi-batch production shape.
    // First-seen semantics: doc 5 (batch 1) is kept; doc 3 (batch 2,
    // same signature, within the late horizon) is emitted as (3, 5).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon"
    val ms = MemoryStream[(Long, String)]
    val dups = graft.streaming.StreamingJobs.nearDupBoundedStream(
      spark, ms.toDF().toDF("doc_id", "text"), ttlMs = 3600L * 1000L)
    val name = "q48b_firstseen_test"
    val q = dups.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData((5L, a))
      q.processAllAvailable() // canon = 5, nothing emitted
      ms.addData((3L, a))
      q.processAllAvailable() // 3 is a dup of the KEPT doc 5
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((3L, 5L)),
        s"expected first-seen canonical to report (3,5), got $got")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q48b runs identically on the RocksDB state store (prod backend)") {
    // The deployment note says "run with the RocksDB provider" — prove
    // it: same 4-batch eviction drive on a child session whose state
    // store is RocksDBStateStoreProvider (session-local conf; the
    // shared session keeps the default HDFS-backed provider).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val got = driveQ48bEviction(s2, "q48b_evict_rocksdb_test")
    assert(got == Set((2L, 1L), (25000L, 20000L), (30001L, 30000L)),
      s"RocksDB-backed run diverged: $got")
  }

  test("q49 PII scrub: counts match injection schedule, no PII survives") {
    val rows = SparkEntry.queries("q49_pii_scrub")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_emails") == (if (id % 3 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_ips") == (if (id % 4 == 0) 1L else 0L))
      assert(r.getAs[Long]("n_ids") == (if (id % 5 == 0) 1L else 0L))
      val t = r.getAs[String]("clean_text")
      // the scrubbed text must contain the placeholder iff injected,
      // and no survivor of the raw patterns
      assert(t.contains("<EMAIL>") == (id % 3 == 0))
      assert(t.contains("<IP>") == (id % 4 == 0))
      assert(t.contains("<ID>") == (id % 5 == 0))
      assert(!t.contains("@example.com") && !t.contains("10.0."))
    }
  }

  test("q50 domain filter: blocklist decision and broadcast plan shape") {
    val df = SparkEntry.queries("q50_domain_filter")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("domain") == s"site${id % 20}.example.org")
      assert(r.getAs[Boolean]("is_blocked") == ((id % 20) % 3 == 0))
    }
    // the blocklist gate must be a broadcast join — the corpus side
    // must not shuffle
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("q41 packing parallelism scales with the corpus (no fixed-width stage)") {
    import graft.queries.PipelineQueries.packBuckets
    assert(packBuckets(500L) == 16) // small corpora keep the floor
    assert(packBuckets(50_000_000L) == 50)
    assert(packBuckets(2_000_000_000L) == 2000)
    // the derived count drives the actual bucket column
    val out = graft.queries.PipelineQueries
      .q41SequencePacking(spark, sf, binTokens = 512)
    val nb = out.select(col("pack_bucket")).distinct().count()
    assert(nb <= 16 && nb > 1) // 500 docs -> floor of 16 streams
  }

  test("q53 corpus recipe: staged dispositions match a driver-side recomputation") {
    val rows = SparkEntry.queries("q53_corpus_recipe")(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    val rules = SparkEntry.queries("q46_filter_cascade")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Boolean]("keep"), r.getAs[String]("reject_reason"))).toMap
    val surv1 = docs.keySet.filter(rules(_)._1)
    // stage 2: exact dedup among rule-survivors (text identity)
    val canonOf = surv1.groupBy(docs(_)).values
      .flatMap { g => val m = g.min; g.map(_ -> m) }.toMap
    val surv2 = surv1.filter(id => canonOf(id) == id)
    // stage 3: q15's (verified) pair set restricted to survivors,
    // union-find min label
    val pairs = SparkEntry.queries("q15_lsh_near_dups")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => surv2(p._1) && surv2(p._2))
    val parent = scala.collection.mutable.Map(surv2.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val surv3 = surv2.filter(id => find(id) == id)
    // stage 4: train-split survivors sharing a 5-gram with the test split
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => f"$b%02x").mkString, 16) % 100
    }
    def sh5(t: String): Set[String] = {
      val w = t.trim.split(" ", -1)
      if (w.length < 5) Set.empty else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val testSh = docs.keySet.filter(bucket(_) >= 95).flatMap(id => sh5(docs(id)))
    val contaminated = surv3.filter(id =>
      bucket(id) < 90 && sh5(docs(id)).exists(testSh))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val b = bucket(id)
      val split = if (b < 90) "train" else if (b < 95) "validation" else "test"
      val expected =
        if (!rules(id)._1) s"rule:${rules(id)._2}"
        else if (canonOf(id) != id) "exact_dup"
        else if (!surv3(id) && surv2(id)) "near_dup"
        else if (contaminated(id)) "contaminated"
        else "kept"
      assert(r.getAs[String]("split") == split, s"doc $id")
      assert(r.getAs[String]("disposition") == expected, s"doc $id")
      assert(r.getAs[Boolean]("keep") == (expected == "kept"), s"doc $id")
    }
    // every stage must fire on this corpus for the test to mean
    // anything — including decontamination, whose join direction
    // (train probe vs test index) would otherwise go untested
    val ds = rows.map(_.getAs[String]("disposition")).toSet
    assert(ds.exists(_.startsWith("rule:")), ds.toString)
    assert(ds.contains("near_dup") || ds.contains("exact_dup"), ds.toString)
    assert(ds.contains("contaminated"), ds.toString)
    assert(ds.contains("kept"), ds.toString)
  }

  test("q52 classifier filter matches a driver-side brute force") {
    val rows = SparkEntry.queries("q52_classifier_filter")(spark, sf).collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    def weight(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"clf:$t".getBytes("UTF-8"))
      val hex = h.map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = texts(id).trim.split(" ", -1)
      val logit = w.map(weight).sum
      assert(r.getAs[Long]("n_tokens") == w.length.toLong, s"doc $id")
      assert(r.getAs[Long]("logit_micro") == logit, s"doc $id")
      assert(r.getAs[Boolean]("keep") == (logit > 0), s"doc $id")
    }
    // the hash-weight gate must split the corpus nontrivially
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("q51 semantic dedup matches a driver-side brute force") {
    val rows = SparkEntry.queries("q51_semantic_dedup")(spark, sf).collect()
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    assert(rows.length == embs.length, "one report row per vector")
    // Ground truth re-derived INDEPENDENTLY: micro-quantized k-means
    // trained on the hash-ordered 512-vector sample (init = first 16
    // of it, 2 truncating-mean Lloyd rounds over the sample, exact
    // integer squared distance with the (distance, cell) tiebreak —
    // quantization via BigDecimal HALF_UP, not the engine's roundAway),
    // then within-cell edges at round-6 cosine >= 0.45, union-find
    // min label.
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    def micro(e: Array[Float]): Array[Long] = e.map(v =>
      java.math.BigDecimal.valueOf(v.toDouble * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val microById = embs.map { case (id, e) => id -> micro(e) }.toMap
    def sqd(x: Array[Long], c: Array[Long]): Long =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def assignOne(cents: Array[Array[Long]], x: Array[Long]): Int =
      cents.zipWithIndex.map { case (c, ci) => (sqd(x, c), ci) }.min._2
    val sample = embs.map(_._1).sortBy(id => (md5hex(s"ivf:$id"), id))
      .take(512).map(microById)
    var cents = sample.take(16).map(_.clone())
    for (_ <- 0 until 2) {
      val byCell = sample.groupBy(x => assignOne(cents, x))
      cents = cents.zipWithIndex.map { case (c, ci) =>
        byCell.get(ci) match {
          case Some(xs) =>
            Array.tabulate(c.length)(d => xs.map(_(d)).sum / xs.length)
          case None => c
        }
      }
    }
    val cell = embs.map { case (id, _) =>
      id -> assignOne(cents, microById(id)) }.toMap
    val byId = embs.toMap
    val ids = embs.map(_._1)
    val edges = for {
      a <- ids; b <- ids
      if a < b && cell(a) == cell(b)
      cs = BigDecimal(dot(byId(a), byId(b)) / (nrm(byId(a)) * nrm(byId(b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cs >= 0.45
    } yield (a, b)
    val parent = scala.collection.mutable.Map(ids.toSeq.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val canon = ids.map(i => i -> find(i)).toMap
    assert(edges.nonEmpty, "expected at least one within-cell near-dup")
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(r.getAs[Long]("cell") == cell(id), s"cell of $id")
      assert(r.getAs[Long]("canon_id") == canon(id), s"canon of $id")
      assert(r.getAs[Boolean]("keep") == (canon(id) == id), s"keep of $id")
    }
    // scale shape: candidate pairs come from the cell equi-join, never
    // a corpus nested loop
    val plan = SparkEntry.queries("q51_semantic_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q56 bigram-LM scores match a driver-side brute force") {
    val rows = SparkEntry.queries("q56_bigram_lm")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" ").toSeq)
      .filter(_._2.length >= 2)
    assert(rows.length == docs.length, "one row per >=2-word doc")
    val bigrams = docs.flatMap { case (id, w) =>
      w.sliding(2).map(p => (id, (p(0), p(1)))) }
    val cb = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cu = cb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val sm = cb.map { case (bg, c) =>
      bg -> BigDecimal(java.math.BigDecimal.valueOf(
          math.log10(cu(bg._1).toDouble / c.toDouble) * 1e6))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }
    val expected = bigrams.groupBy(_._1).map { case (id, bs) =>
      val total = bs.map(b => sm(b._2)).sum
      val n = bs.length.toLong
      val avg = BigDecimal(total) / BigDecimal(n * 1000000L)
      id -> (n, total,
        avg.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, total, avg) = expected(id)
      assert(r.getAs[Long]("n_bigrams") == n, s"n_bigrams of $id")
      assert(r.getAs[Long]("surprisal_micro") == total, s"micro of $id")
      assert(r.getAs[Double]("avg_bigram_surprisal") == avg, s"avg of $id")
    }
  }

  test("q60 quota: exactly 25 per source, rank-dense, score-ordered") {
    val rows = SparkEntry.queries("q60_stratified_quota")(spark, sf).collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    val nSources = Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(bySrc.size == nSources)
    bySrc.foreach { case (src, rs) =>
      assert(rs.length == 25, s"quota of $src")
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      assert(ordered.map(_.getAs[Int]("rank")).toSeq == (1 to 25))
      val scores = ordered.map(_.getAs[Double]("quality_score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"scores of $src not descending")
    }
    // quota winners really are the per-source best: no excluded doc
    // outscores its source's 25th pick
    val all = SparkEntry.queries("q17_quality")(spark, sf)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val srcOf = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val picked = rows.map(_.getAs[Long]("doc_id")).toSet
    bySrc.foreach { case (src, rs) =>
      val cutoff = rs.map(r =>
        (r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id"))).min
      all.filterNot(kv => picked(kv._1))
        .filter(kv => srcOf(kv._1) == src)
        .foreach { case (id, sc0) => // ordering domain: (score desc, id asc)
          assert(sc0 < cutoff._1 ||
            (sc0 == cutoff._1 && id > cutoff._2), s"doc $id beats cutoff of $src")
        }
    }
  }

  test("q56b prune decomposes q56: same bigram counts, OOV fallback visible") {
    val full = SparkEntry.queries("q56_bigram_lm")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bigrams")).toMap
    val pruned = SparkEntry.queries("q56b_bigram_lm_pruned")(spark, sf).collect()
    assert(pruned.map(_.getAs[Long]("doc_id")).toSet == full.keySet)
    pruned.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nb = r.getAs[Long]("n_bigrams")
      val oov = r.getAs[Long]("n_oov")
      assert(nb == full(id), s"doc $id bigram count drifted under pruning")
      assert(oov >= 0 && oov <= nb, s"doc $id n_oov=$oov outside [0,$nb]")
    }
    // the knob must bite: a natural corpus has context words with more
    // than 8 continuations, so some bigram somewhere falls back
    assert(pruned.exists(_.getAs[Long]("n_oov") > 0),
      "top-8 pruning scored every bigram — the operating point is vacuous")
  }

  test("q61 banding equals brute-force Hamming<=3 over the frame hashes") {
    val rows = SparkEntry.queries("q61_video_frame_near_dup")(spark, sf).collect()
    assert(rows.nonEmpty)
    // third implementation: recompute the verdict from the reported
    // hex hashes alone (engine banding and oracle brute-force both
    // already check each other; this pins the semantics in-process)
    val fr = rows.map { r =>
      val hex = r.getAs[String]("dhash_hex")
      val fk = r.getAs[Long]("video_id") * 1000000L + r.getAs[Int]("frame_idx")
      fk -> (java.lang.Long.parseUnsignedLong(hex.substring(0, 8), 16),
        java.lang.Long.parseUnsignedLong(hex.substring(8), 16))
    }.toMap
    rows.foreach { r =>
      val fk = r.getAs[Long]("video_id") * 1000000L + r.getAs[Int]("frame_idx")
      val (hi, lo) = fr(fk)
      val expect = fr.keys.filter(_ < fk).filter { o =>
        val (ohi, olo) = fr(o)
        java.lang.Long.bitCount(hi ^ ohi) + java.lang.Long.bitCount(lo ^ olo) <= 3
      }.minOption.getOrElse(fk)
      val got = r.getAs[Long]("dup_video_id") * 1000000L +
        r.getAs[Int]("dup_frame_idx")
      assert(got == expect, s"frame $fk: dup_of $got, brute-force $expect")
      assert(r.getAs[Boolean]("is_dup") == (expect != fk))
    }
  }

  test("q62 banding equals brute-force Hamming<=3 over the clip hashes") {
    val rows = SparkEntry.queries("q62_audio_near_dup")(spark, sf).collect()
    assert(rows.nonEmpty)
    val fr = rows.map { r =>
      val hex = r.getAs[String]("ahash_hex")
      r.getAs[Long]("clip_id") ->
        (java.lang.Long.parseUnsignedLong(hex.substring(0, 8), 16),
          java.lang.Long.parseUnsignedLong(hex.substring(8), 16))
    }.toMap
    rows.foreach { r =>
      val id = r.getAs[Long]("clip_id")
      val (hi, lo) = fr(id)
      val expect = fr.keys.filter(_ < id).filter { o =>
        val (ohi, olo) = fr(o)
        java.lang.Long.bitCount(hi ^ ohi) + java.lang.Long.bitCount(lo ^ olo) <= 3
      }.minOption.getOrElse(id)
      assert(r.getAs[Long]("dup_clip_id") == expect, s"clip $id")
      assert(r.getAs[Boolean]("is_dup") == (expect != id))
    }
  }

  test("q63 cross-batch: a later-batch re-upload resolves to the kept image") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val png5 = graft.functions.MediaFixture.png(5)
    val png7 = graft.functions.MediaFixture.png(7)
    val ms = MemoryStream[(Long, Array[Byte])]
    val verdicts = graft.streaming.StreamingJobs.imageDedupStream(
      spark, ms.toDF().toDF("img_id", "png"))
    val name = "q63_crossbatch_test"
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData((5L, png5), (7L, png7))
      q.processAllAvailable() // batch 1: both canonical (self-verdicts)
      ms.addData((1005L, png5))
      q.processAllAvailable() // batch 2: same bytes, later id → dup of 5
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got == Set((5L, 5L), (7L, 7L), (1005L, 5L)),
        s"expected first-seen canonical + later-batch dup, got $got")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q63b TTL eviction forgets image fingerprints idle past the horizon") {
    // The q48b 4-batch drive, on the image fold: pair in batch 1;
    // batch 2 jumps the watermark past A's horizon; batch 3 re-sees B
    // in-TTL (lazy eviction must NOT have dropped it — event-time-
    // anchored timeout) while A, idle past its horizon, is evicted;
    // batch 4 re-sees A's bytes → canon RESETS (state forgotten),
    // unlike unbounded q63 which would resolve to 1.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val pngA = graft.functions.MediaFixture.png(5)
    val pngB = graft.functions.MediaFixture.png(7)
    val ms = MemoryStream[(Long, Array[Byte])]
    val verdicts = graft.streaming.StreamingJobs.imageDedupBoundedStream(
      spark, ms.toDF().toDF("img_id", "png"), ttlMs = 3600L * 1000L)
    val name = "q63b_evict_test"
    val q = verdicts.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData((1L, pngA), (2L, pngA))
      q.processAllAvailable() // A: canon=1, timeout 2s+1h event time
      ms.addData((20000L, pngB))
      q.processAllAvailable() // wm → 20000s-1h ≫ A's horizon; A idle
      ms.addData((25000L, pngB))
      q.processAllAvailable() // B in-TTL → dup of 20000; A evicted
      ms.addData((30000L, pngA), (30001L, pngA))
      q.processAllAvailable() // fresh state: canon resets to 30000
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got == Set((1L, 1L), (2L, 1L), (20000L, 20000L),
        (25000L, 20000L), (30000L, 30000L), (30001L, 30000L)),
        s"expected in-TTL dup + eviction reset, got $got")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q63b single-batch drain equals q63 (the oracle-shared contract)") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("img_id"), r.getAs[String]("dhash_hex"),
        r.getAs[Long]("dup_of"), r.getAs[Boolean]("is_dup"))
    val a = SparkEntry.queries("q63_stream_image_dedup")(spark, sf)
      .collect().map(key).toSeq
    val b = SparkEntry.queries("q63b_stream_image_dedup_ttl")(spark, sf)
      .collect().map(key).toSeq
    assert(a.nonEmpty && b == a)
  }

  test("q72 stream-stream join matches across batches, respects the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000000L // µs, well inside the watermark era
    val ms = MemoryStream[(Long, Long, String, Long)]
    val joined = graft.streaming.StreamingJobs.funnelJoinStream(spark,
      ms.toDF().toDF("event_id", "user_id", "event_type", "t"),
      gapUs = 600000000L)
    val name = "q72_crossbatch_test"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData((1L, 10L, "view", t0))
      q.processAllAvailable() // view buffered in join state
      ms.addData((2L, 10L, "purchase", t0 + 300000000L), // in-gap, matches
        (3L, 11L, "purchase", t0 + 300000000L)) // no view for user 11
      q.processAllAvailable()
      ms.addData((4L, 10L, "purchase", t0 + 1200000000L)) // beyond the gap
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
          r.getAs[Long]("purchase_id"), r.getAs[Long]("gap_us"))).toSet
      assert(got == Set((10L, 1L, 2L, 300000000L)),
        s"expected one cross-batch in-gap match, got $got")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q75 outer funnel: abandonment emits on watermark, withheld views stay buffered") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000000L // µs
    val H = 3600000000L // 1 h in µs (the watermark delay)
    val ms = MemoryStream[(Long, Long, String, Long)]
    val joined = graft.streaming.StreamingJobs.funnelJoinOuterStream(spark,
      ms.toDF().toDF("event_id", "user_id", "event_type", "t"),
      gapUs = 600000000L)
    val name = "q75_crossbatch_test"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("gap_us"))).toSet
    try {
      ms.addData((1L, 10L, "view", t0), (5L, 12L, "view", t0))
      q.processAllAvailable()
      assert(rows().isEmpty, "nothing can emit before a match or eviction")
      ms.addData((2L, 10L, "purchase", t0 + 300000000L)) // in-gap match
      q.processAllAvailable()
      assert(rows() == Set((10L, 1L, 2L, 300000000L)),
        "the in-gap match must emit immediately; no abandonment yet")
      // Far-future events on BOTH sides push the global watermark past
      // t0 + gap: user 12's view is now provably unmatchable and must
      // emit exactly one sentinel row. The far-future view itself is
      // unmatched but INSIDE the horizon — withheld, no row.
      ms.addData((6L, 99L, "view", t0 + 3 * H),
        (7L, 98L, "purchase", t0 + 3 * H))
      q.processAllAvailable()
      assert(rows() == Set((10L, 1L, 2L, 300000000L), (12L, 5L, -1L, -1L)),
        s"expected match + one abandonment, got ${rows()}")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q75b full outer funnel: both sides emit sentinels on their own eviction points") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val t0 = 1700000000000000L // µs
    val H = 3600000000L // 1 h in µs (the watermark delay)
    val ms = MemoryStream[(Long, Long, String, Long)]
    val joined = graft.streaming.StreamingJobs.funnelJoinFullOuterStream(
      spark, ms.toDF().toDF("event_id", "user_id", "event_type", "t"),
      gapUs = 600000000L)
    val name = "q75b_crossbatch_test"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id"), r.getAs[Long]("gap_us"))).toSet
    try {
      // view for 10 (will match), view for 12 (will abandon), buy for
      // 11 with NO view (the full-outer side this entry exists for).
      ms.addData((1L, 10L, "view", t0), (5L, 12L, "view", t0),
        (8L, 11L, "purchase", t0 + 100000000L))
      q.processAllAvailable()
      assert(rows().isEmpty, "nothing can emit before a match or eviction")
      ms.addData((2L, 10L, "purchase", t0 + 300000000L)) // in-gap match
      q.processAllAvailable()
      assert(rows() == Set((10L, 1L, 2L, 300000000L)),
        "the in-gap match must emit immediately; no sentinels yet")
      // Far-future events on BOTH sides: watermark moves past both
      // eviction points — user 12's view (view_ts + gap < wm) AND
      // user 11's buy (buy_ts < wm) emit exactly one sentinel row
      // each; the far-future rows themselves are in-horizon, withheld.
      ms.addData((6L, 99L, "view", t0 + 3 * H),
        (7L, 98L, "purchase", t0 + 3 * H))
      q.processAllAvailable()
      assert(rows() == Set((10L, 1L, 2L, 300000000L),
        (12L, 5L, -1L, -1L), (11L, -1L, 8L, -1L)),
        s"expected match + one sentinel per side, got ${rows()}")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q97 streaming shard ledger: batch-boundary-invariant, equals q93") {
    import graft.streaming.StreamingJobs
    // The export family's streaming column: folding arriving packed
    // bins must land on exactly the batch exporter's ledger…
    val batch = SparkEntry.queries("q93_shard_export")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val streamed = SparkEntry.queries("q97_stream_shard_ledger")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch, "streamed ledger drifted from q93")
    // …and be invariant to how the bins are batched: one file per
    // microbatch exercises the cross-batch additive fold (sum/count/
    // max compose across triggers), same 8-row result.
    val perFile = StreamingJobs.shardLedgerStream(spark, sf,
        maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    assert(perFile == batch,
      "per-file microbatching changed the folded ledger")
    // Bounded state: the ledger aggregate keys on shard_id only.
    assert(batch.size == 8)
  }

  test("q80 stream-static probe: arrivals in batches match the restricted q15; join is stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // Ground truth: q15 pairs with exactly one arrival endpoint.
    val want = SparkEntry.queries("q15_lsh_near_dups")(spark, sf)
      .filter((col("doc_a") % 10 === 0) =!= (col("doc_b") % 10 === 0))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSet
    // Arrival docs fed through a MemoryStream in TWO batches — each
    // micro-batch probes the same static staged index.
    val arrivals = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").cast("long"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = arrivals.partition(_._1 % 20 == 0)
    val ms = MemoryStream[(Long, String)]
    val probe = graft.streaming.StreamingJobs.corpusProbeStream(spark,
      ms.toDF().toDF("doc_id", "text"), sf)
    val name = "q80_crossbatch_test"
    val q = probe.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))).toSet
      assert(got == want,
        s"missing=${want -- got} extra=${got -- want}")
      // The stream-static join keeps NO join state: the only state
      // operator in the query is the pair dedup.
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1 && ops.head.operatorName.contains("dedupe"),
        s"unexpected state operators: ${ops.map(_.operatorName).toSeq}")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q83 ANN gate: batched arrivals equal the one-batch drain; zero state operators") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // Ground truth: the entry itself (file-stream drain — a single
    // AvailableNow batch). The gate is STATELESS, so any batch split
    // of the arrivals must reproduce it exactly.
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("arr_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos_pq"))
    val want = SparkEntry.queries("q83_stream_ann_gate")(spark, sf)
      .collect().map(key).toSet
    assert(want.nonEmpty, "fixture yields no gate hits — threshold dead")
    val arrivals = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (b1, b2) = arrivals.partition(_._1 % 20 == 0)
    val ms = MemoryStream[(Long, Array[Float])]
    val gate = graft.streaming.StreamingJobs.annGateStream(spark,
      ms.toDF().toDF("vec_id", "embedding"), sf)
    val name = "q83_crossbatch_test"
    val q = gate.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table(name).collect().map(key).toSet
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
      // FULLY stateless: no dedup, no watermark, no join state — the
      // structural claim that makes the gate free of stream-length
      // state growth.
      assert(q.lastProgress.stateOperators.isEmpty,
        s"unexpected state operators: ${
          q.lastProgress.stateOperators.map(_.operatorName).toSeq}")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q76 incremental dedup equals full q15 restricted to arrival pairs; index staged once") {
    import org.apache.spark.sql.functions.col
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))
    val full = SparkEntry.queries("q15_lsh_near_dups")(spark, sf)
      .filter(col("doc_a") % 10 === 0 || col("doc_b") % 10 === 0)
      .collect().map(key).toSet
    val inc = SparkEntry.queries("q76_incremental_dedup")(spark, sf)
      .collect().map(key).toSet
    assert(inc == full,
      s"incremental ${inc.size} pairs vs full-restricted ${full.size}")
    // Write-once: the staged bucketed index must not be rewritten by a
    // second call (same dir mtime), and the probe plan must scan the
    // STAGE path, not re-derive corpus bands from documents.
    val tag = graft.queries.PipelineQueries.stageTag(spark, sf,
      "documents.parquet", "lsh16x4v2")
    val idxDir = new java.io.File(
      graft.queries.PipelineQueries.stageRoot, s"lshindex_$tag")
    assert(new java.io.File(idxDir, "_GRAFT_STAGED").exists(),
      "staged lsh index missing its marker")
    val m1 = idxDir.lastModified()
    val df2 = SparkEntry.queries("q76_incremental_dedup")(spark, sf)
    assert(df2.count() == inc.size)
    assert(idxDir.lastModified() == m1, "second call rewrote the index")
    val plan = df2.queryExecution.executedPlan.toString
    assert(plan.contains("lshindex_"),
      "probe plan does not scan the staged index")
  }

  test("q76 probe co-location: bucketed index side feeds the join with zero Exchange") {
    import org.apache.spark.sql.functions.col
    import graft.queries.PipelineQueries
    val base = PipelineQueries.lshDocWords(spark, sf)
    val idx = PipelineQueries.stagedCorpusBands(spark, sf,
      PipelineQueries.lshBandsOf(spark, base.filter(col("id") % 10 =!= 0)))
    val arr = PipelineQueries.lshBandsOf(spark,
      base.filter(col("id") % 10 === 0))
    val bare = arr.as("n").hint("merge").join(idx.as("c"),
      col("n.band") === col("c.band") &&
        col("n.band_hash") === col("c.band_hash"))
    val plan = bare.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    // Exactly ONE pre-join exchange — the derived arrival side. The
    // SMJ requires BOTH sides clustered on (band, band_hash); the
    // index side contributes no Exchange because the CLUSTERED BY
    // scan already reports HashPartitioning(band, band_hash, 16). A
    // second exchange would mean the corpus index re-shuffles per
    // arrival batch — the r16 scale finding this stage exists to fix.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected only the arrival-side exchange, found $exchanges:\n" +
        plan.take(3000))
    // The candidate WORD-FETCH side shares the mechanics: doc-words
    // staged bucketed on the fetch key (id), so the corpus-sized side
    // of the endpoint join contributes no Exchange either — only the
    // candidate-pair frame shuffles.
    val words = PipelineQueries.stagedDocWords(spark, sf)
    val fetch = arr.select(col("id").as("doc_a"), col("band"))
      .hint("merge")
      .join(words.select(col("id").as("doc_a"), col("w")), "doc_a")
    val fplan = fetch.queryExecution.executedPlan.toString
    assert(fplan.contains("SortMergeJoin"), fplan.take(2000))
    val fex = "Exchange hashpartitioning".r.findAllIn(fplan).size
    assert(fex == 1,
      s"expected only the candidate-side exchange, found $fex:\n" +
        fplan.take(3000))
  }

  test("q76b growing index: two sequential batches, append-only segments, pairs = restricted q15") {
    import org.apache.spark.sql.functions.col
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))
    val full = SparkEntry.queries("q15_lsh_near_dups")(spark, sf)
      .filter(col("doc_a") % 10 <= 1 || col("doc_b") % 10 <= 1)
      .collect().map(key).toSet
    val inc = SparkEntry.queries("q76b_growing_index_dedup")(spark, sf)
      .collect().map(key).toSet
    assert(inc == full,
      s"growing-index ${inc.size} pairs vs full-restricted ${full.size}")
    // Append-only: the index root holds exactly the base segment plus
    // one segment per batch, each a marker-committed bucketed stage; a
    // second call reuses every segment untouched (no rewrite, no new
    // segments).
    val tag = graft.queries.PipelineQueries.stageTag(spark, sf,
      "documents.parquet", "lshgrow16x4v2")
    val root = new java.io.File(
      graft.queries.PipelineQueries.stageRoot, s"lshgrow_$tag")
    val segs = root.listFiles().filter(_.getName.startsWith("seg_"))
      .sortBy(_.getName)
    assert(segs.map(_.getName).toSeq == Seq("seg_b0", "seg_b1", "seg_base"),
      s"unexpected segments: ${segs.map(_.getName).toSeq}")
    segs.foreach { sd =>
      assert(new java.io.File(sd, "_GRAFT_STAGED").exists(),
        s"${sd.getName} missing its marker")
    }
    val mtimes = segs.map(_.lastModified())
    val again = SparkEntry.queries("q76b_growing_index_dedup")(spark, sf)
    assert(again.collect().map(key).toSet == full)
    val after = root.listFiles().filter(_.getName.startsWith("seg_"))
      .sortBy(_.getName)
    assert(after.length == 3, "replay created extra segments")
    assert(after.map(_.lastModified()).toSeq == mtimes.toSeq,
      "replay rewrote a segment")
  }

  test("q76c compaction: one-generation probe equals q76b, gen-0 untouched") {
    import org.apache.spark.sql.functions.col
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))
    val grown = SparkEntry.queries("q76b_growing_index_dedup")(spark, sf)
      .collect().map(key).toSet
    val tag = graft.queries.PipelineQueries.stageTag(spark, sf,
      "documents.parquet", "lshgrow16x4v2")
    val gen0 = new java.io.File(
      graft.queries.PipelineQueries.stageRoot, s"lshgrow_$tag")
      .listFiles().filter(_.getName.startsWith("seg_")).sortBy(_.getName)
    val m0 = gen0.map(_.lastModified()).toSeq
    val compacted = SparkEntry.queries("q76c_compacted_index_dedup")(spark, sf)
      .collect().map(key).toSet
    assert(compacted == grown,
      s"missing=${grown -- compacted} extra=${compacted -- grown}")
    // Compaction is a NEW generation: gen-0 segments byte-untouched,
    // the compacted segment marker-committed under its own salt, and
    // a replay reuses it (write-once).
    assert(gen0.map(_.lastModified()).toSeq == m0,
      "compaction touched a generation-0 segment")
    val tag2 = graft.queries.PipelineQueries.stageTag(spark, sf,
      "documents.parquet", "lshgrow16x4v2gen1")
    val cdir = new java.io.File(
      graft.queries.PipelineQueries.stageRoot, s"lshcompact_$tag2")
    assert(new java.io.File(cdir, "_GRAFT_STAGED").exists(),
      "compacted generation missing its marker")
    val mc = cdir.lastModified()
    assert(SparkEntry.queries("q76c_compacted_index_dedup")(spark, sf)
      .collect().map(key).toSet == grown)
    assert(cdir.lastModified() == mc, "replay rewrote the compacted index")
  }

  test("q25b frozen-centroid IVF: write-once segments, fresh session probes the staged file") {
    val first = SparkEntry.queries("q25b_ann_ivf_append")(spark, sf)
    val rows1 = first.collect().map(_.toSeq).toSeq
    assert(rows1.length == 9) // 3 anchors × top-3
    val stageDir = new java.io.File(
      graft.queries.PipelineQueries.stageRoot)
    val idx = stageDir.listFiles().filter(_.getName.startsWith("ivfseg_"))
    assert(idx.nonEmpty, "no staged IVF segments found")
    val segs = idx.head.listFiles().filter(_.getName.startsWith("seg_"))
      .sortBy(_.getName)
    assert(segs.map(_.getName).toSeq == Seq("seg_arr0", "seg_base"),
      s"unexpected segments: ${segs.map(_.getName).toSeq}")
    segs.foreach { sd =>
      assert(new java.io.File(sd, "_staged").exists(),
        s"${sd.getName} missing its marker")
    }
    val mtimes = segs.map(sd => new java.io.File(sd, "cells").lastModified())
    // A fresh session must reproduce the result from the SAME frozen
    // quantizer and the SAME segments (no rewrite, no retrain drift).
    val s2 = spark.newSession()
    val second = SparkEntry.queries("q25b_ann_ivf_append")(s2, sf)
    assert(second.collect().map(_.toSeq).toSeq == rows1)
    assert(segs.map(sd =>
      new java.io.File(sd, "cells").lastModified()).toSeq == mtimes.toSeq,
      "second session rewrote a segment")
    val plan2 = second.queryExecution.executedPlan.toString
    assert(plan2.contains("ivfseg_"),
      "q25b plan does not scan the staged inverted file")
    // The segments are directory-partitioned by cell and the probe
    // join key is the partition column: dynamic partition pruning
    // must cut the scan to the probed cells' files (the nProbe/nCells
    // read fraction that makes an inverted file an index at 100 TB).
    assert(plan2.toLowerCase.contains("dynamicpruning"),
      "probe scan not dynamically partition-pruned")
  }

  test("ANN rank filters compile to a partial WindowGroupLimit before the exchange") {
    // The load-bearing scale fact for the whole rank-filter family
    // (q19/q25/q25b/q77/q81): on Spark 4.x, InferWindowGroupLimit
    // rewrites `row_number().over(partitionBy(anchor)) <= k` into a
    // WindowGroupLimit pair — a PARTIAL group-limit BEFORE the shuffle
    // (each map task emits only its local top-k per anchor) and a
    // Final one after — so the few-partition window never sees
    // corpus-sized input. A refactor that breaks the pattern (e.g.
    // filtering on a column derived from the rank) silently reverts
    // to a full per-anchor sort of the corpus; this spec pins the
    // rewrite on the two staged-ANN flagships.
    for (name <- Seq("q81_ann_pq", "q77_ann_int8_rerank")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).nonEmpty,
        s"$name lost its partial WindowGroupLimit:\n${plan.take(4000)}")
      assert("WindowGroupLimit.*Final".r.findFirstIn(plan).nonEmpty,
        s"$name lost its final WindowGroupLimit:\n${plan.take(4000)}")
    }
  }

  test("q82 IVFADC: cell-partitioned PQ-code segments, probe scan dynamically pruned") {
    val first = SparkEntry.queries("q82_ann_ivfpq")(spark, sf)
    val rows1 = first.collect().map(_.toSeq).toSeq
    assert(rows1.length == 9) // 3 anchors × top-3
    val plan = first.queryExecution.executedPlan.toString
    assert(plan.contains("ivfpq_"),
      "q82 plan does not scan the staged IVFPQ segments")
    // The probe must read nProbe/nCells of the code files, not all of
    // them — the partition-pruning contract IVFADC inherits from q25b.
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "PQ-code probe scan not dynamically partition-pruned")
    // Both segment stages committed with markers; replay reuses them.
    val tag = graft.queries.PipelineQueries.stageTag(spark, sf,
      "embeddings.parquet", "ivfpq16x8x16v1")
    val root = new java.io.File(
      graft.queries.PipelineQueries.stageRoot, s"ivfpq_$tag")
    val segs = root.listFiles().filter(_.getName.startsWith("seg_"))
      .sortBy(_.getName)
    assert(segs.map(_.getName).toSeq == Seq("seg_arr0", "seg_base"),
      s"unexpected segments: ${segs.map(_.getName).toSeq}")
    val mtimes = segs.map(_.lastModified()).toSeq
    val again = SparkEntry.queries("q82_ann_ivfpq")(spark, sf)
    assert(again.collect().map(_.toSeq).toSeq == rows1)
    assert(segs.map(_.lastModified()).toSeq == mtimes,
      "replay rewrote an IVFPQ segment")
  }

  test("q82b residual IVFADC: same probe contract, residual codes are their own stage") {
    val first = SparkEntry.queries("q82b_ann_ivfpq_residual")(spark, sf)
    val rows1 = first.collect().map(_.toSeq).toSeq
    assert(rows1.length == 9) // 3 anchors × top-3
    val plan = first.queryExecution.executedPlan.toString
    assert(plan.contains("ivfpqr_"),
      "q82b plan does not scan the staged residual-code segments")
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "residual-code probe scan not dynamically partition-pruned")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).nonEmpty,
      s"q82b lost its partial WindowGroupLimit:\n${plan.take(3000)}")
    // Residual codes must be a DIFFERENT artifact from q82's raw-PQ
    // codes (same vectors, different codebooks) — and replay must
    // reuse both segments untouched.
    val tag = graft.queries.PipelineQueries.stageTag(spark, sf,
      "embeddings.parquet", "ivfpqr16x8x16v1")
    val root = new java.io.File(
      graft.queries.PipelineQueries.stageRoot, s"ivfpqr_$tag")
    val segs = root.listFiles().filter(_.getName.startsWith("seg_"))
      .sortBy(_.getName)
    assert(segs.map(_.getName).toSeq == Seq("seg_arr0", "seg_base"),
      s"unexpected segments: ${segs.map(_.getName).toSeq}")
    val mtimes = segs.map(_.lastModified()).toSeq
    val again = SparkEntry.queries("q82b_ann_ivfpq_residual")(spark, sf)
    assert(again.collect().map(_.toSeq).toSeq == rows1)
    assert(segs.map(_.lastModified()).toSeq == mtimes,
      "replay rewrote a residual segment")
  }

  test("q55c: recall report well-formed, encodings actually differ") {
    val rows = SparkEntry.queries("q55c_pq_recall")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_exact")
      assert(n == 3L)
      for (c <- Seq("hits_raw", "hits_residual"))
        assert(r.getAs[Long](c) >= 0L && r.getAs[Long](c) <= n)
      for (c <- Seq("recall_raw", "recall_residual")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c=$v out of range")
      }
    }
    // The two encodings must be a real comparison: q82 and q82b rank
    // with DIFFERENT codebooks, so their SCORES cannot all coincide.
    // (Comparing pair SETS alone would be fixture-fragile: both probe
    // the same cells, and two correlated approximations of the same
    // cosine can legitimately agree on a small fixture's top-3.)
    def scored(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(r => (r.getAs[Long]("anchor_id"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_pq"))).toSet
    assert(scored("q82_ann_ivfpq") != scored("q82b_ann_ivfpq_residual"),
      "raw-PQ and residual-PQ scores are identical — residual path " +
        "is probably reading the raw codes")
  }

  test("q88 cell balance: full domain, populations conserve, segments-only scan") {
    val df = SparkEntry.queries("q88_ivf_cell_balance")(spark, sf)
    val rows = df.collect()
    assert(rows.length == 16)
    assert(rows.map(_.getAs[Int]("cell")).toSeq == (0 until 16))
    // Conservation: every vector is in exactly one cell — a report
    // that loses or double-counts rows is lying about index health.
    val nTotal = rows.map(_.getAs[Long]("n_total")).sum
    assert(nTotal == Tables.embeddings(spark, sf).count(),
      s"index population $nTotal != embedding table")
    rows.foreach(r => assert(r.getAs[Double]("load") >= 0.0))
    // The monitor must price like a monitor: it reads ONLY the staged
    // segments (partition-column aggregation), never the fp32 table.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ivfseg_"),
      "q88 does not read the staged segments")
    assert(!plan.contains("embeddings.parquet"),
      "q88 scans the embedding table instead of the index")
    // …and it reads them ONCE: the total is a window sum over the
    // 16-row per-cell frame, not a second aggregate over the segments
    // (r17 advice — the monitor's cost doubled for a derivable value).
    // Fresh plan: an EXECUTED AdaptiveSparkPlan prints Final + Initial
    // sections and would double-count every scan node.
    val freshPlan = SparkEntry.queries("q88_ivf_cell_balance")(spark, sf)
      .queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(freshPlan).length
    assert(nScans == 2,
      s"q88 should scan exactly the two segment stages once each, got $nScans")
  }

  test("q25c IVF retrain: compacted new generation, old generation untouched") {
    val r1 = SparkEntry.queries("q25c_ann_ivf_retrain")(spark, sf)
    val rows1 = r1.collect()
    assert(rows1.length == 3)
    rows1.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 3L)
      val rb = r.getAs[Double]("recall_before")
      val ra = r.getAs[Double]("recall_after")
      assert(rb >= 0.0 && rb <= 1.0, s"recall_before $rb out of range")
      assert(ra >= 0.0 && ra <= 1.0, s"recall_after $ra out of range")
    }
    val stageDir = new java.io.File(
      graft.queries.PipelineQueries.stageRoot)
    val tagOld = graft.queries.PipelineQueries.stageTag(spark, sf,
      "embeddings.parquet", "ivf16p1")
    val tagNew = graft.queries.PipelineQueries.stageTag(spark, sf,
      "embeddings.parquet", "ivf16p2r1")
    val oldSegs = new java.io.File(stageDir, s"ivfseg_$tagOld")
      .listFiles().filter(_.getName.startsWith("seg_")).sortBy(_.getName)
    assert(oldSegs.map(_.getName).toSeq == Seq("seg_arr0", "seg_base"),
      "old generation segments missing")
    val gen1 = new java.io.File(
      new java.io.File(stageDir, s"ivfseg2_$tagNew"), "gen1")
    assert(new java.io.File(gen1, "_staged").exists(),
      "compacted generation missing its marker")
    val mOld = oldSegs.map(_.lastModified()).toSeq
    val mNew = gen1.lastModified()
    val r2 = SparkEntry.queries("q25c_ann_ivf_retrain")(spark, sf).collect()
    assert(r2.map(_.toSeq).toSeq == rows1.map(_.toSeq).toSeq)
    assert(oldSegs.map(_.lastModified()).toSeq == mOld,
      "retrain touched the old generation")
    assert(gen1.lastModified() == mNew,
      "replay rewrote the compacted generation")
  }

  test("q81 PQ codes staged as 8 tinyints; fresh session reproduces the ADC report") {
    val first = SparkEntry.queries("q81_ann_pq")(spark, sf)
    val rows1 = first.collect().map(_.toSeq).toSeq
    assert(rows1.length == 9) // 3 anchors × top-3
    val stageDir = new java.io.File(
      graft.queries.PipelineQueries.stageRoot)
    val idx = stageDir.listFiles().filter(_.getName.startsWith("pqcodes_"))
    assert(idx.nonEmpty, "no staged PQ codes found")
    val codes = new java.io.File(idx.head, "codes")
    val m1 = codes.lastModified()
    // The 64×-compression artifact really is 8 one-byte codes.
    val sch = spark.read.parquet(codes.toString).schema
    val pq = sch("pq").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(pq.elementType == org.apache.spark.sql.types.ByteType,
      s"codes not tinyint: $pq")
    val row0 = spark.read.parquet(codes.toString)
      .selectExpr("size(pq)").head().getInt(0)
    assert(row0 == 8, s"expected 8 subspace codes, got $row0")
    // Fresh session: codebooks retrain deterministically (same
    // hash-ordered sample, same integer Lloyd rounds), the stage is
    // reused untouched, and the report is identical.
    val s2 = spark.newSession()
    val second = SparkEntry.queries("q81_ann_pq")(s2, sf)
    assert(second.collect().map(_.toSeq).toSeq == rows1)
    assert(codes.lastModified() == m1, "second session rewrote the codes")
    // PQ is lossier than int8 but must still track the exact cosine.
    first.collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("cos_pq") -
        r.getAs[Double]("cos_sim")) < 0.2,
        s"PQ cosine wildly off on ${r.getAs[Long]("vec_id")}: $r")
    }
  }

  test("q77 int8 rerank recovers the exact top-3; quantized cosine tracks exact") {
    val got = SparkEntry.queries("q77_ann_int8_rerank")(spark, sf).collect()
    assert(got.length == 9) // 3 anchors × top-3
    // On this fixture the int8 top-8 never drops an exact top-3 hit,
    // so the reranked report IS the exact brute-force answer —
    // recall@3 = 1.0 with fp32 touched for only 3·8 rows.
    val exact = graft.functions.Similarity.bruteTopK(
        Tables.embeddings(spark, sf), Seq(0L, 1L, 2L), k = 3).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSet
    val rer = got.map(r => (r.getAs[Long]("anchor_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("cos_sim"))).toSet
    assert(rer == exact, s"reranked top-3 diverged from exact: $rer vs $exact")
    // int8 max-abs quantization of unit-scale embeddings keeps the
    // cosine within ~1/127-scale error — the report's visible gap.
    got.foreach { r =>
      assert(math.abs(r.getAs[Double]("cos_q") -
        r.getAs[Double]("cos_sim")) < 0.01,
        s"quantization error out of band on ${r.getAs[Long]("vec_id")}")
    }
  }

  test("q77 codes are staged once as tinyint parquet; second session reuses the stage") {
    // The 8×-smaller-scan claim is a storage artifact, not a per-run
    // recompute: the codes parquet is written once per input identity
    // and every q77 run — including one from a FRESH session — reads
    // it (the q74/q76 idempotency contract).
    val first = SparkEntry.queries("q77_ann_int8_rerank")(spark, sf)
    val rows1 = first.collect().map(_.toSeq).toSeq
    val stageDir = new java.io.File(
      graft.queries.PipelineQueries.stageRoot)
    val idx = stageDir.listFiles().filter(_.getName.startsWith("int8codes_"))
    assert(idx.nonEmpty, "no staged int8 codes found")
    val codes = new java.io.File(idx.head, "codes")
    val m1 = codes.lastModified()
    // The staged artifact really is int8: parquet schema carries the
    // codes as array<tinyint>, not the bigint compute type.
    val sch = spark.read.parquet(codes.toString).schema
    val q8 = sch("q8").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(q8.elementType ==
      org.apache.spark.sql.types.ByteType, s"codes not tinyint: $q8")
    // A second, fresh session must REUSE the stage (same mtime), scan
    // it in the plan, and produce identical rows.
    val s2 = spark.newSession()
    val second = SparkEntry.queries("q77_ann_int8_rerank")(s2, sf)
    assert(second.collect().map(_.toSeq).toSeq == rows1)
    assert(codes.lastModified() == m1, "second session rewrote the stage")
    assert(second.queryExecution.executedPlan.toString.contains("int8codes_"),
      "q77 plan does not scan the staged codes")
  }

  test("q79 flags exactly the shared/repeated 16-token spans, cross- and within-doc") {
    import spark.implicits._
    val run = (1 to 16).map(i => s"p$i").mkString(" ") // the copied span
    val docs = Seq(
      // doc 1: the run embedded in unique context — exactly ONE of its
      // 15 spans (the aligned window) can match doc 2's.
      (1L, ((1 to 4).map(i => s"u$i") :+ run) ++ (1 to 10).map(i => s"v$i")),
      (2L, ((1 to 9).map(i => s"x$i") :+ run) ++ (1 to 5).map(i => s"y$i")),
      // doc 3: all-unique — zero duplicated spans.
      (3L, (1 to 20).map(i => s"z$i")),
      // doc 4: the SAME run twice within one doc (self-duplication
      // counts — the boilerplate-inside-one-page case).
      (4L, (Seq(run) ++ (1 to 8).map(i => s"q$i")) :+ run)
    ).map { case (id, parts) => (id, parts.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = graft.queries.PipelineQueries.substringDedupReport(docs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"))).toMap
    // doc1: 30 words -> 15 spans, 1 aligned match (shared with 2 and 4)
    assert(got(1L) == (15L, 1L), s"doc1: ${got(1L)}")
    assert(got(2L) == (15L, 1L), s"doc2: ${got(2L)}")
    assert(got(3L) == (5L, 0L), s"doc3: ${got(3L)}")
    // doc4: 40 words -> 25 spans; the two aligned run-windows (pos 1
    // and pos 25) are duplicated, every straddling window is unique.
    assert(got(4L) == (25L, 2L), s"doc4: ${got(4L)}")
    // q79b (two-phase) is row-identical to the window baseline on the
    // same planted fixture.
    val got2 = graft.queries.PipelineQueries.substringDedupTwoPhase(docs)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_dup_spans"), r.getAs[Double]("dup_ratio")))
    val base = graft.queries.PipelineQueries.substringDedupReport(docs)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_dup_spans"), r.getAs[Double]("dup_ratio")))
    assert(got2.sameElements(base), s"q79b diverged: ${got2.toSeq} vs ${base.toSeq}")
  }

  test("q79b plan: partial aggregate on the span key, NO window over the gram stream") {
    val df = SparkEntry.queries("q79b_substring_dedup_2ph")(spark, sf)
    df.collect() // materialize so AQE finalizes the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q79b must not window over the gram stream:\n${plan.take(1500)}")
    // The duplicated-gram dictionary is built with map-side partial
    // aggregation keyed on g — the mechanism that caps a hot span's
    // reduce-side cost at one partial per map task. The dictionary is
    // checkpointed inside q79b (the stage break that lets AQE's skew
    // rule pattern-match the join), which truncates the final plan's
    // lineage — so pin the partial aggregate on the dictionary
    // builder's own plan.
    import graft.queries.PipelineQueries
    val dict = PipelineQueries.substringDupDict(
      PipelineQueries.substringGrams(
        graft.Tables.documents(spark, sf)))
    dict.collect()
    val dplan = dict.queryExecution.executedPlan.toString
    val partialOnG = dplan.linesIterator.exists(l =>
      l.contains("partial_count") && l.contains("keys=[g#"))
    assert(partialOnG,
      s"no partial count keyed on g in:\n${dplan.take(2000)}")
  }

  test("q79b planted hot span: AQE skew-splits the dictionary join, result exact") {
    // The scale scenario q79 cannot survive: ONE boilerplate 16-gram in
    // (almost) every document. Under fixture-scaled skew thresholds the
    // two-phase plan's dictionary join must (a) stay correct and (b)
    // let AQE split the hot span's partition at runtime — the window
    // variant structurally cannot (every row of a key in one task).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    val run = (1 to 16).map(i => s"p$i").mkString(" ")
    // 100k docs: 90% are EXACTLY the boilerplate run (one span, all
    // the same hash — the hot key), 10% are 16 unique tokens (one
    // unique span each). The hot partition must dominate in shuffle
    // BYTES, not just rows — a constant key compresses better than
    // unique ones, so a milder row skew can fall under the 2× byte
    // factor and silently not split (observed at 4 shuffle
    // partitions with a 3×-row fixture).
    val docs = s2.range(100000L).selectExpr("id AS doc_id",
      s"CASE WHEN id % 10 = 0 THEN concat_ws(' ', " +
        "transform(sequence(1, 16), j -> concat('u', id, '_', j))) " +
        s"ELSE '$run' END AS text")
    val df = graft.queries.PipelineQueries.substringDedupTwoPhase(docs)
    val rows = df.collect()
    assert(rows.length == 100000)
    rows.foreach { r =>
      val dup = if (r.getAs[Long]("doc_id") % 10 == 0) 0L else 1L
      assert(r.getAs[Long]("n_spans") == 1L &&
        r.getAs[Long]("n_dup_spans") == dup,
        s"wrong report for doc ${r.getAs[Long]("doc_id")}: $r")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not skew-split the hot span join:\n${plan.take(2000)}")
  }

  test("q79c scrubs every token covered by a duplicated span, rebuilds in order") {
    import spark.implicits._
    val run = (1 to 16).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, ((1 to 4).map(i => s"u$i") :+ run) ++ (1 to 10).map(i => s"v$i")),
      (2L, ((1 to 9).map(i => s"x$i") :+ run) ++ (1 to 5).map(i => s"y$i")),
      (3L, (1 to 20).map(i => s"z$i")),
      // the run twice in one doc: BOTH copies are cut
      (4L, (Seq(run) ++ (1 to 8).map(i => s"q$i")) :+ run),
      // exactly the run and nothing else: scrubbed to empty
      (5L, Seq(run))
    ).map { case (id, parts) => (id, parts.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = graft.queries.PipelineQueries.substringScrub(docs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_tokens_kept"),
          r.getAs[String]("cleaned_text"))).toMap
    // doc1: run at positions 5-20 covered; u's and v's survive in order
    assert(got(1L) == (30L, 14L,
      ((1 to 4).map(i => s"u$i") ++ (1 to 10).map(i => s"v$i"))
        .mkString(" ")), s"doc1: ${got(1L)}")
    assert(got(2L) == (30L, 14L,
      ((1 to 9).map(i => s"x$i") ++ (1 to 5).map(i => s"y$i"))
        .mkString(" ")), s"doc2: ${got(2L)}")
    // doc3: untouched
    assert(got(3L) == (20L, 20L, (1 to 20).map(i => s"z$i").mkString(" ")))
    // doc4: both run copies cut, the middle survives
    assert(got(4L) == (40L, 8L, (1 to 8).map(i => s"q$i").mkString(" ")),
      s"doc4: ${got(4L)}")
    // doc5: everything cut — row kept with empty text
    assert(got(5L) == (16L, 0L, ""), s"doc5: ${got(5L)}")
  }

  test("q64 yield ledger sums to the corpus and agrees with q53's verdicts") {
    val led = SparkEntry.queries("q64_recipe_yield")(spark, sf).collect()
    val rec = SparkEntry.queries("q53_corpus_recipe")(spark, sf).collect()
    val docs = SparkEntry.queries("q11_token_stats")(spark, sf).count()
    assert(led.map(_.getAs[Long]("n_docs")).sum == rec.length.toLong)
    assert(rec.length.toLong == docs) // one verdict per document
    // per-disposition doc counts must match the verdict table exactly
    val byDisp = rec.groupBy(_.getAs[String]("disposition"))
      .map { case (k, v) => k -> v.length.toLong }
    val ledByDisp = led.groupBy(_.getAs[String]("disposition"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("n_docs")).sum }
    assert(ledByDisp == byDisp, s"ledger $ledByDisp vs verdicts $byDisp")
  }

  test("q64b staged ledger equals q64, reuses the stage, prunes the scan") {
    import graft.queries.PipelineQueries
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("source"), r.getAs[String]("disposition"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))
    val recompute = SparkEntry.queries("q64_recipe_yield")(spark, sf)
      .collect().map(key).toSeq
    val staged = SparkEntry.queries("q64b_recipe_yield_staged")(spark, sf)
    val got = staged.collect().map(key).toSeq
    assert(recompute.nonEmpty && got == recompute)
    // The ledger's parquet scan over the stage prunes to the two
    // projected columns (the staged table has four).
    val scan = staged.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains(s"${PipelineQueries.stageRoot}/recipe_"))
    assert(scan.exists(_.contains(
      "ReadSchema: struct<doc_id:bigint,disposition:string>")),
      s"stage scan not pruned: $scan")
    // Write-once: a second call must READ the existing stage, not
    // rewrite it (parquet part files keep their names + mtimes).
    def listing = {
      val base = java.nio.file.Paths.get(PipelineQueries.stageRoot)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(p => p.toString.contains("recipe_") &&
          p.toString.endsWith(".parquet"))
        .map(p => (p.toString,
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    }
    val before = listing
    assert(before.nonEmpty)
    SparkEntry.queries("q64b_recipe_yield_staged")(spark, sf)
      .write.mode("overwrite").format("noop").save()
    assert(listing == before, "second call rewrote the stage")
  }

  test("q65 agreement: exact pairs flagged exact, method count consistent") {
    val rows = SparkEntry.queries("q65_dedup_agreement")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = Seq("by_exact", "by_lsh", "by_simhash")
        .count(r.getAs[Boolean](_))
      assert(n >= 1 && r.getAs[Long]("n_methods") == n.toLong)
    }
    // independent exact-pair recomputation: every md5-identical pair
    // must appear with by_exact = true
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("th")).collect()
    val byTh = d.groupBy(_.getString(1)).values.filter(_.length > 1)
    val exactPairs = byTh.flatMap { g =>
      val ids = g.map(_.getLong(0)).sorted
      for (i <- ids.indices; j <- i + 1 until ids.length)
        yield (ids(i), ids(j))
    }.toSet
    val flagged = rows.filter(_.getAs[Boolean]("by_exact"))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(flagged == exactPairs,
      s"exact flags ${flagged.size} vs recomputed ${exactPairs.size}")
  }

  test("q66 streaming ledger equals the batch cascade regrouped") {
    val led = SparkEntry.queries("q66_stream_quality_yield")(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("disposition")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    val casc = SparkEntry.queries("q46_filter_cascade")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("keep"), r.getAs[String]("reject_reason"),
          r.getAs[Long]("n_tokens"))).toMap
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = casc.toSeq.groupBy { case (id, (keep, reason, _)) =>
      (srcOf(id), if (keep) "kept" else s"rule:$reason")
    }.map { case (k, v) =>
      k -> (v.size.toLong, v.map(_._2._3).sum)
    }
    assert(led == expect, s"ledger ${led.size} groups vs batch ${expect.size}")
  }

  test("q65b star report is O(group) on a planted mega-group") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    // 1000 verbatim copies of one boilerplate doc — the adversarial
    // shape that makes q65's pair enumeration quadratic — plus 50
    // distinct fillers.
    val boiler = "the same boilerplate terms of service text repeated verbatim"
    val docs = ((0L until 1000L).map(i => (i, boiler)) ++
      (1000L until 1050L).map(i =>
        (i, s"unique filler document number $i with tokens ${i * 7} ${i * 13} ${i * 31}")))
      .toDF("doc_id", "text")
    // The pair-shaped report would emit g(g-1)/2 rows for this group
    // alone (measured on the exact arm q65 uses) ...
    val th = docs.select(col("doc_id"), md5(col("text")).as("th"))
    val nPairs = th.as("a").join(th.as("b"),
      col("a.th") === col("b.th") && col("a.doc_id") < col("b.doc_id")).count()
    assert(nPairs == 499500L)
    // ... the star report emits one row per member doc.
    val star = PipelineQueries.dedupAgreementStarOver(spark, docs).collect()
    val mega = star.filter(_.getAs[Boolean]("by_exact"))
    assert(mega.length == 1000)
    mega.foreach { r =>
      assert(r.getAs[Long]("exact_canon") == 0L)
      assert(r.getAs[Long]("lsh_canon") == 0L)
      assert(r.getAs[Long]("sim_canon") == 0L)
      assert(r.getAs[Long]("n_methods") == 3L)
    }
    assert(star.length <= 1050, s"star rows ${star.length}")
  }

  test("q65b per-doc membership equals q65's pair-derived membership") {
    val pairs = SparkEntry.queries("q65_dedup_agreement")(spark, sf).collect()
    def members(flag: String): Set[Long] = pairs.filter(_.getAs[Boolean](flag))
      .flatMap(r => Seq(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val star = SparkEntry.queries("q65b_dedup_agreement_star")(spark, sf)
      .collect()
    def starMembers(flag: String): Set[Long] =
      star.filter(_.getAs[Boolean](flag)).map(_.getAs[Long]("doc_id")).toSet
    Seq("by_exact", "by_lsh", "by_simhash").foreach { m =>
      assert(starMembers(m) == members(m), s"method $m membership drifted")
    }
  }

  test("q67 range join is an equi-join — no nested-loop fallback") {
    // the operator's whole point: the naive inequality phrasing would
    // be a BroadcastNestedLoopJoin; the binned rewrite must not be
    val df = SparkEntry.queries("q67_event_range_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // value check vs in-process brute force
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "ts div 1000 as t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val brute = (for {
      a <- ev; b <- ev
      if a._1 == b._1 && b._3 > a._3 && b._3 - a._3 <= 600000000L
    } yield (a._1, a._3, b._3, a._2, b._2)).toSeq.sorted
    val got = df.collect().map(r => (r.getAs[Long]("user_id"),
      r.getAs[Long]("ts_a_us"), r.getAs[Long]("ts_b_us"),
      r.getAs[String]("type_a"), r.getAs[String]("type_b"))).toSeq.sorted
    assert(got == brute, s"binned join ${got.size} pairs vs brute ${brute.size}")
  }

  test("q68 sessionizer: both windows and the aggregate share ONE hash shuffle") {
    val df = SparkEntry.queries("q68_sessionize")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val hashExchanges = "hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"expected a single user_id hash exchange, found $hashExchanges:\n${plan.take(2000)}")
    // sessions are well-formed: disjoint per user, gaps > threshold
    // between consecutive sessions, bounded within
    val rows = df.collect()
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("session_idx"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("session_start_us") -
            a.getAs[Long]("session_end_us") > 600000000L,
            "adjacent sessions closer than the gap threshold")
        case _ =>
      }
      sorted.foreach(r => assert(r.getAs[Long]("session_start_us") <=
        r.getAs[Long]("session_end_us")))
    }
  }

  test("q68b two-phase sessionizer equals q68 on sf data") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("session_start_us"), r.getAs[Long]("session_end_us"),
        r.getAs[Long]("n_events"))
    val df = SparkEntry.queries("q68b_sessionize_skew")(spark, sf)
    val a = SparkEntry.queries("q68_sessionize")(spark, sf).collect().map(key)
    val b = df.collect().map(key)
    assert(a.nonEmpty && b.toSeq == a.toSeq)
    // The skew fix IS the plan shape: phase 1's exchange must key on
    // (user_id, chunk), not user_id alone.
    val plan = df.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(user_id#\\d+L?, chunk#\\d+L?".r
      .findFirstIn(plan).isDefined,
      s"phase-1 exchange not keyed by (user_id, chunk):\n${plan.take(2000)}")
  }

  test("q68b: planted hot user — exact across cuts, phase-1 spreads the key") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    val gap = 100L; val chunk = 1000L
    val rnd = new scala.util.Random(68)
    // User 1: one 5000-event session spanning ~150 chunks — the bot
    // that would serialize into one task under a per-user window.
    val hot = (0L until 5000L).map(i => (1L, i * 30L))
    val edges = Seq(
      (2L, 900L), (2L, 1000L), (2L, 1101L), // cross-cut merge at gap
      // == 100, then a 101-gap break INSIDE the chunk
      (3L, 50L), (3L, 940L), (3L, 960L), (3L, 1050L), // left-edge
      // candidate + right-edge session merging across the cut
      (4L, 990L), (4L, 1500L), (4L, 2010L), // the skip trap: interior
      // session between two boundary candidates must block their merge
      (5L, 500L), (5L, 500L), (5L, 500L)) // ties
    val fuzz = for { u <- 6L to 15L; _ <- 1 to 200 }
      yield (u, rnd.between(0L, 20000L))
    val all = hot ++ edges ++ fuzz
    val got = PipelineQueries
      .sessionizeTwoPhase(all.toDF("user_id", "t"), gap, chunk)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    // In-process reference: the plain single-pass gap fold.
    val expect = all.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val sessions = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      es.map(_._2).sorted.foreach { t =>
        if (sessions.nonEmpty && t - sessions.last._2 <= gap) {
          val (s0, _, n) = sessions.last
          sessions(sessions.size - 1) = (s0, t, n + 1)
        } else sessions += ((t, t, 1L))
      }
      sessions.zipWithIndex.map { case ((s0, s1, n), i) =>
        (u, (i + 1).toLong, s0, s1, n) }
    }.sorted
    assert(got == expect, s"${got.size} sessions vs reference ${expect.size}")
    // The hot user resolved to ONE session despite ~150 chunk cuts.
    assert(got.count(_._1 == 1L) == 1)
    // Skew claim: phase 1 partitions on (user, chunk) — its key
    // cardinality must exceed the user count (the hot user alone
    // contributes ~150 keys), so no single task owns a hot user.
    val nKeys = all.toDF("user_id", "t")
      .selectExpr("user_id", s"t div ${chunk}L AS c").distinct().count()
    val nUsers = all.map(_._1).distinct.size.toLong
    assert(nKeys > 10 * nUsers, s"phase-1 keys $nKeys vs users $nUsers")
  }

  test("dupClusters matches union-find on random + adversarial graphs") {
    // Direct guard on the propagation loop's convergence logic (the
    // r13 one-job-per-iteration rewrite): min-label propagation needs
    // diameter-many rounds, so long PATHS are the adversarial shape —
    // a loop that stops one round early returns a non-minimal label
    // somewhere in the middle of the path.
    import spark.implicits._
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      // canonical = min member, which for this union rule is the root
      parent.keys.map(k => k -> find(k)).toMap
    }
    val rnd = new scala.util.Random(20260814L)
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      // a 40-node path declared in reverse (worst diameter, and the
      // min label enters from the far end)
      (39L to 1L by -1L).map(i => (i, i - 1)),
      // a 120-node path: diameter 119 is PAST maxIter (50) — plain
      // hash-min propagation stops early with silently non-minimal
      // labels mid-path; the pointer jump converges in O(log d)
      // rounds, so this case pins that the shortcut is actually live
      (119L to 1L by -1L).map(i => (i, i - 1)),
      // star + triangle + isolated edge
      Seq((10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L), (21L, 22L),
        (22L, 20L), (30L, 31L)),
      // random graphs at two densities
      Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(p => p._1 != p._2),
      Seq.fill(25)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
        .filter(p => p._1 != p._2))
    cases.zipWithIndex.foreach { case (edges, i) =>
      val df = edges.toDF("doc_a", "doc_b")
      // localEdgeLimit = 0 forces the DISTRIBUTED propagation loop —
      // the size gate would otherwise route these small graphs to the
      // driver union-find and the loop's convergence logic would go
      // untested.
      val got = graft.functions.Dedup
        .dupClusters(df, "doc_a", "doc_b", localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFind(edges)
      assert(got == want, s"case $i: ${got.size} labels vs ${want.size}")
      // The gated DRIVER path (default limit) must agree exactly —
      // the two solvers are interchangeable below the gate.
      val gotLocal = graft.functions.Dedup.dupClusters(df, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotLocal == want, s"case $i local: ${gotLocal.size} labels")
    }
  }

  test("pointer jump: a 4096-diameter path converges within 20 rounds") {
    // The exact silent-under-merge scenario the pointer jump was added
    // to kill (r18): plain hash-min propagation needs DIAMETER rounds,
    // so a 4096-node path under maxIter=20 would return non-minimal
    // labels for most of the chain; the jump (lbl := min(lbl,
    // prev_lbl(lbl))) doubles the chased distance per round, so
    // convergence is O(log d) ≈ 12 rounds here and 20 is ample — the
    // assertion proves the shortcut is live, not just present in the
    // code. Declared in reverse so the min label enters from the far
    // end (worst case for min propagation).
    import spark.implicits._
    val n = 4096L
    val edges = (n - 1 to 1L by -1L).map(i => (i, i - 1))
      .toDF("doc_a", "doc_b")
    val labels = graft.functions.Dedup
      .dupClusters(edges, "doc_a", "doc_b", maxIter = 20,
        localEdgeLimit = 0L) // force the distributed loop under test
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == n)
    val bad = labels.filter(_._2 != 0L)
    assert(bad.isEmpty,
      s"${bad.length} nodes under-merged (sample: ${bad.take(5).toSeq})")
  }

  test("q70 HLL estimate lands within the sketch's error band") {
    val rows = SparkEntry.queries("q70_hll_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact").toDouble
      val est = r.getAs[Long]("est_corrected").toDouble
      // 3σ of 1.04/sqrt(512) ≈ 14%; linear counting is tighter still
      assert(math.abs(est - exact) / exact <= 0.14,
        s"${r.getAs[String]("event_type")}: est $est vs exact $exact")
      assert(r.getAs[Long]("v_zero") >= 0 && r.getAs[Long]("v_zero") <= 512)
    }
  }

  test("q70b merged sketch equals the direct one, under any partition split") {
    import graft.queries.PipelineQueries
    val rows = SparkEntry.queries("q70b_hll_merge")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("merge_ok"),
        s"${r.getAs[String]("event_type")}: merged " +
          s"${r.getAs[Long]("hll_est_merged")} vs direct " +
          s"${r.getAs[Long]("hll_est_direct")}")
      val np = r.getAs[Long]("n_parts")
      assert(np >= 1 && np <= 4)
    }
    // The direct arm IS q70's raw estimate (same registers, same
    // estimator) — the twins can't drift.
    val q70 = SparkEntry.queries("q70_hll_distinct")(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("hll_est"))
      .toMap
    rows.foreach(r => assert(
      r.getAs[Long]("hll_est_direct") == q70(r.getAs[String]("event_type"))))
    // Merge is split-invariant: a different (coprime) part count must
    // yield the identical merged estimate — the sketch property that
    // lets 1000 executors build sketches independently.
    val alt = PipelineQueries.q70bHllMerge(spark, sf, nParts = 7).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("hll_est_merged"))
      .toMap
    rows.foreach(r => assert(
      r.getAs[Long]("hll_est_merged") == alt(r.getAs[String]("event_type"))))
  }

  test("q73 count-min estimates dominate exact counts, never undercount") {
    val rows = SparkEntry.queries("q73_heavy_hitters")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      // the CM guarantee: collisions only inflate
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"),
        s"${r.getAs[String]("token")} undercounted")
    }
    val counts = rows.map(_.getAs[Long]("n_exact")).toSeq
    assert(counts == counts.sorted.reverse, "not ordered by exact count")
    // independent recount of the #1 token
    import org.apache.spark.sql.functions.{col, explode}
    val topTok = rows.head.getAs[String]("token")
    val n = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.words(col("text")))
        .as("t"))
      .filter(col("t") === topTok).count()
    assert(rows.head.getAs[Long]("n_exact") == n)
  }

  test("q71 histogram estimate brackets the exact percentile by one bin") {
    val rows = SparkEntry.queries("q71_quantile_sketch")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("50", "95", "99").foreach { q =>
        val exact = r.getAs[Long](s"p${q}_exact")
        val est = r.getAs[Long](s"p${q}_est")
        // est = upper bound of the bin holding the rank-target value:
        // (exact, exact + 8] whenever the value is inside the binned
        // range (the overflow bin clips at 2048).
        if (est <= 2048L)
          assert(exact < est && est <= exact + 8L,
            s"${r.getAs[String]("source")} p$q: exact $exact est $est")
      }
      // percentiles are monotone in q, in both arms
      assert(r.getAs[Long]("p50_exact") <= r.getAs[Long]("p95_exact"))
      assert(r.getAs[Long]("p95_exact") <= r.getAs[Long]("p99_exact"))
      assert(r.getAs[Long]("p50_est") <= r.getAs[Long]("p95_est"))
      assert(r.getAs[Long]("p95_est") <= r.getAs[Long]("p99_est"))
    }
    // Merge property: the histogram is count-additive, so partial
    // histograms built per row-partition and summed give the identical
    // estimate — verified against an in-process replay.
    import org.apache.spark.sql.functions.{col, size}
    val tok = Tables.documents(spark, sf)
      .select(col("source"),
        size(graft.functions.TextFunctions.words(col("text"))).cast("long")
          .as("nt")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val merged = tok.groupBy(_._1).map { case (src, rs) =>
      // four partial histograms (rows round-robined), then summed
      val parts = rs.zipWithIndex.groupBy(_._2 % 4).values.map { p =>
        p.map(_._1._2).groupBy(v => math.min(v / 8, 255L))
          .map { case (b, vs) => b -> vs.size.toLong }
      }
      val hist = parts.flatten
        .groupBy(_._1).map { case (b, cs) => b -> cs.map(_._2).sum }
      val nd = rs.length.toLong
      def estOf(rq: Long): Long = {
        var cum = 0L
        hist.toSeq.sortBy(_._1).collectFirst {
          case (b, c) if { cum += c; cum >= rq } => (b + 1) * 8
        }.get
      }
      src -> (estOf((50 * nd + 99) / 100), estOf((95 * nd + 99) / 100),
        estOf((99 * nd + 99) / 100))
    }
    rows.foreach { r =>
      val (e50, e95, e99) = merged(r.getAs[String]("source"))
      assert(r.getAs[Long]("p50_est") == e50 &&
        r.getAs[Long]("p95_est") == e95 && r.getAs[Long]("p99_est") == e99,
        s"merged-histogram replay diverged for ${r.getAs[String]("source")}")
    }
  }

  test("q73b sketch-only report equals q73, candidates stay bounded") {
    import org.apache.spark.sql.functions.{col, explode}
    val exact = SparkEntry.queries("q73_heavy_hitters")(spark, sf).collect()
    val sketch = SparkEntry.queries("q73b_heavy_hitters_sketch")(spark, sf)
      .collect()
    assert(sketch.length == 20)
    assert(exact.map(_.toSeq).toSeq == sketch.map(_.toSeq).toSeq,
      "sketch-only top-20 diverged from the exact arm")
    // Candidate recall must survive a different partitioning (the
    // mapPartitions stage sees different local streams), and the
    // per-partition emission bound must hold.
    val tok = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.words(col("text")))
        .as("tok"))
    Seq(tok, tok.repartition(13)).foreach { t =>
      val cands = graft.queries.PipelineQueries.q73bCandidates(spark, t)
        .collect().map(_.getString(0)).toSet
      val top20 = exact.map(_.getAs[String]("token")).toSet
      assert((top20 -- cands).isEmpty,
        s"candidates missed exact-top-20 tokens: ${top20 -- cands}")
      val nParts = t.rdd.getNumPartitions
      // top-LOCALK plus at most CAP frequency-floor survivors (tokens
      // above N_p/CAP residual — the Misra-Gries recall guarantee).
      assert(cands.size <= (graft.queries.PipelineQueries.Q73bLocalK +
        graft.queries.PipelineQueries.Q73bCap) * nParts)
    }
  }

  test("q73b floor emission: a heavy token outranked by LOCALK concentrated tokens still emits") {
    // The Misra-Gries share>1/CAP survival guarantee applies to the
    // counter map, not a top-LOCALK emission cut: a globally-heavy
    // token locally outranked by 100 partition-concentrated tokens
    // would be silently dropped by top-64 alone. The frequency-floor
    // emission (> N_p/CAP) must carry it regardless of rank.
    import spark.implicits._
    val rows = (0 until 100).flatMap(i => Seq.fill(1000)(s"conc$i")) ++
      Seq.fill(500)("hot") // rank 101 locally; share 500/100500 ≫ 1/4096
    val tok = rows.toDF("tok").repartition(1)
    val cands = graft.queries.PipelineQueries.q73bCandidates(spark, tok)
      .collect().map(_.getString(0)).toSet
    assert(cands.contains("hot"),
      "floor emission dropped a token above the N_p/CAP guarantee")
  }

  test("q73b plan: no full-vocabulary aggregate — token groupBys are candidate-gated") {
    // The sketch-only twin's whole point: the only aggregates over the
    // raw token stream are the bounded (d, cell) counters; every
    // tok-keyed aggregate sits above the broadcast candidate
    // semi-join. Assert on the optimized plan: each Aggregate whose
    // grouping is exactly [tok] must have a join below it, and the
    // candidate stage itself is object-mapped (no Exchange feeding it).
    import org.apache.spark.sql.functions.{col, explode}
    val tok = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.words(col("text")))
        .as("tok"))
    val qe = graft.queries.PipelineQueries.q73bExactTop(spark, tok)
      .queryExecution
    val plan = qe.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join,
      SerializeFromObject}
    plan.foreach {
      case a: Aggregate
          if a.groupingExpressions.length == 1 &&
            a.groupingExpressions.head.references.toSeq
              .exists(_.name == "tok") &&
            !a.groupingExpressions.head.references.toSeq
              .exists(r => r.name == "d" || r.name == "cell") =>
        // legitimate tok-keyed aggregates: the candidate-gated exact
        // count (join below) and the candidates' own distinct (object
        // pipeline below, ≤ LOCALK·partitions rows by construction)
        val gated = a.child.collectFirst { case j: Join => j }.nonEmpty ||
          a.child.collectFirst { case o: SerializeFromObject => o }.nonEmpty
        assert(gated, s"ungated full-vocabulary aggregate:\n$a")
      case _ =>
    }
    val phys = qe.executedPlan.toString
    assert(phys.contains("MapPartitions"),
      "candidate stage (mapPartitions space-saving) missing from plan")
  }

  test("q71b sketch-only estimates equal q71's estimate columns") {
    val full = SparkEntry.queries("q71_quantile_sketch")(spark, sf)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("p50_est"), r.getAs[Long]("p95_est"),
          r.getAs[Long]("p99_est"))).toMap
    val only = SparkEntry.queries("q71b_quantile_sketch_only")(spark, sf)
      .collect()
    assert(only.nonEmpty && only.length == full.size)
    only.foreach { r =>
      val (e50, e95, e99) = full(r.getAs[String]("source"))
      assert(r.getAs[Long]("p50_est") == e50 &&
        r.getAs[Long]("p95_est") == e95 &&
        r.getAs[Long]("p99_est") == e99)
    }
    // No sort anywhere except the terminal presentation ORDER BY: the
    // exact arm's per-source row_number sort must be gone.
    val phys = SparkEntry.queries("q71b_quantile_sketch_only")(spark, sf)
      .queryExecution.executedPlan
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = phys.collect { case w: WindowExec => w }
    // one window remains: the cumulative sum over ≤256 bins per source
    windows.foreach { w =>
      val inputCols = w.child.output.map(_.name).toSet
      assert(inputCols.contains("bin") || inputCols.contains("cum"),
        s"unexpected window over non-histogram input: ${w.child.output}")
    }
    val sorts = phys.collect { case s: SortExec => s }
    sorts.foreach { srt =>
      val cols = srt.child.output.map(_.name).toSet
      assert(!cols.contains("nt"),
        "per-document sort present — the exact arm leaked into q71b")
    }
  }

  test("q61 plan: banded candidates via equi-join, no cartesian/nested loop") {
    val plan = SparkEntry.queries("q61_video_frame_near_dup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q54 plan: candidates via equi-join, no cartesian/nested loop") {
    val plan = SparkEntry.queries("q54_lsh_tuned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q55 recall report agrees with intersecting q19/q25 directly") {
    val rep = SparkEntry.queries("q55_ann_recall")(spark, sf).collect()
    assert(rep.map(_.getAs[Long]("anchor_id")).toSeq == Seq(0L, 1L, 2L))
    // q19 ranks top-5 with the same ordering; its rank<=3 prefix IS
    // the exact top-3.
    val brute = SparkEntry.queries("q19_knn_brute")(spark, sf).collect()
      .filter(_.getAs[Int]("rank") <= 3)
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = SparkEntry.queries("q25_ann_ivf")(spark, sf).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("vec_id"))).toSet
    rep.foreach { r =>
      val a = r.getAs[Long]("anchor_id")
      val expHits = brute.filter(_._1 == a).count(ivf.contains)
      assert(r.getAs[Long]("n_exact") == 3L)
      assert(r.getAs[Long]("n_hits") == expHits.toLong, s"anchor $a")
      val expRecall = BigDecimal(expHits.toDouble / 3.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("recall") == expRecall, s"anchor $a")
    }
  }

  test("k-means centroids spread skewed-id clusters that first-N crowds") {
    import spark.implicits._
    // Ids CORRELATE with cluster membership (ids 0-9 cluster 0, 10-19
    // cluster 1, ...), the exact layout that broke the pre-r12
    // "first nCells by id" quantizer: its 4 centroids would all come
    // from cluster 0, so clusters 1-3 (30 of 40 vectors) crowd into
    // ONE cell and the within-cell pairwise bound degrades toward m².
    val centers = Array(
      Array(0.8f, 0.8f, 0f, 0f), Array(-0.8f, 0.8f, 0f, 0f),
      Array(0f, -0.8f, 0.8f, 0f), Array(0f, 0f, -0.8f, -0.8f))
    val vecs = (0 until 40).map { i =>
      val c = centers(i / 10)
      (i.toLong, c.zipWithIndex.map { case (v, d) =>
        v + 0.001f * ((i % 10) + d) })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cents = graft.functions.Similarity
      .kmeansCentroidsMicro(df, nCells = 4, iters = 2).map(_._2)
    def sqd(x: Array[Long], c: Array[Long]): Long =
      x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def occupancy(cs: Array[Array[Long]]): Map[Int, Int] = vecs
      .map { case (_, e) =>
        val x = e.map(v => math.round(v.toDouble * 1e6))
        cs.zipWithIndex.map { case (c, ci) => (sqd(x, c), ci) }.min._2 }
      .groupBy(identity).view.mapValues(_.size).toMap
    val kmOcc = occupancy(cents)
    // first-N baseline: 4 centroids from cluster 0 only
    val firstN = vecs.take(4)
      .map(_._2.map(v => math.round(v.toDouble * 1e6))).toArray
    val fnOcc = occupancy(firstN)
    assert(fnOcc.values.max >= 30,
      s"fixture sanity: first-N must crowd 3 clusters into one cell, got $fnOcc")
    assert(kmOcc.values.max == 10 && kmOcc.size == 4,
      s"k-means must give one cell per planted cluster, got $kmOcc")
  }

  test("q89 incremental refresh never re-scans the corpus") {
    val df = SparkEntry.queries("q89_incremental_source_stats")(spark, sf)
    // Plan read BEFORE execution: after collect, the adaptive plan
    // string carries a "== Initial Plan ==" duplicate of every node
    // and scan counts double.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("srcstats_"),
      "q89 does not read the staged base stats")
    // Exactly ONE scan of the documents table — the arrival delta's.
    // Two means the staged base silently fell back to a recompute and
    // the refresh costs a corpus scan again.
    val scans = "documents\\.parque".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 documents scan (the delta), got $scans")
    assert(df.collect().nonEmpty)
  }

  test("writeOnceStage under real concurrency: one winner, loser reads winner's data") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    spark.sparkContext.hadoopConfiguration
      .set("fs.hookfs.impl", "graft.HookFs")
    val root = s"/tmp/graft_wos_race_${java.util.UUID.randomUUID()}"
    val stage = s"hookfs:$root/stage1"
    HookFs.interceptSuffix = "/data"
    HookFs.barrier = new java.util.concurrent.CyclicBarrier(2)
    try {
      // Two threads race the SAME stage key; the hook FS holds each
      // one at its final tmp→dst rename until both arrive, so both
      // fully build their tmp dirs and the renames genuinely race.
      // Each thread's build carries its own tag: after the race BOTH
      // calls must observe the single winner's tag (the loser's
      // rename fails on the existing dst, it discards its tmp and
      // reads the winner's data — the lost-race branch).
      val calls = Seq("writer_a", "writer_b").map { tag =>
        Future(graft.queries.PipelineQueries.writeOnceStage(spark,
          stage, "data", Seq(tag).toDF("tag")).collect()
          .map(_.getString(0)).toSeq)
      }
      val results = calls.map(Await.result(_, 120.seconds))
      val tags = results.flatten.toSet
      assert(results.forall(_.length == 1))
      assert(tags.size == 1, s"both writers' data visible: $tags")
      assert(new java.io.File(s"$root/stage1/_staged").exists())
      // No torn leftovers: exactly the data dir + marker in the stage.
      val left = new java.io.File(s"$root/stage1").listFiles().map(_.getName)
      assert(left.toSet == Set("data", "_staged"),
        s"stage holds leftovers: ${left.toSeq}")
      // A later call reuses the winner's stage untouched.
      val again = graft.queries.PipelineQueries.writeOnceStage(spark,
        stage, "data", Seq("writer_c").toDF("tag")).collect()
        .map(_.getString(0)).toSeq
      assert(again == tags.toSeq)
    } finally {
      HookFs.barrier = null
      HookFs.interceptSuffix = ""
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("bucketed stage: a winner publishing mid-build is attached, never deleted") {
    // The r16-ADVICE race: JVM A checks the marker (absent), starts
    // its slow bucketed build; JVM B publishes the stage meanwhile.
    // Without the pre-delete marker RE-CHECK, A would delete B's LIVE
    // published stage and rename its own build in. The publisher is
    // JVM-synchronized so two threads can't reach the window — instead
    // the hookfs marker-miss hook installs a complete winner stage
    // right after A's first (missed) check, deterministically inside
    // the window.
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.hookfs.impl", "graft.HookFs")
    val root = s"/tmp/graft_wobs_race_${java.util.UUID.randomUUID()}"
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    // The "other JVM's" output: a real published bucketed stage.
    graft.queries.PipelineQueries.writeOnceBucketedStage(spark,
      s"$root/winner", s"graft_wobs_w_$uid", 4, Seq("k"),
      Seq(("w", 1L)).toDF("tag", "k")).collect()
    val loserLoc = new java.io.File(s"$root/loser")
    HookFs.markerMissOnce.set { p =>
      if (p.toString.contains("/loser/"))
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(s"$root/winner"), loserLoc)
    }
    try {
      val got = graft.queries.PipelineQueries.writeOnceBucketedStage(spark,
        s"hookfs:$root/loser", s"graft_wobs_l_$uid", 4, Seq("k"),
        Seq(("l", 1L)).toDF("tag", "k")).collect()
        .map(_.getString(0)).toSeq
      // The loser must ATTACH the winner's live stage — "l" here means
      // it deleted a published stage out from under its readers.
      assert(got == Seq("w"), s"raced publisher overwrote the winner: $got")
      // Its own build was discarded; no torn temp dirs anywhere.
      val leftovers = new java.io.File(root).listFiles()
        .map(_.getName).filter(_.startsWith(".tmp_"))
      assert(leftovers.isEmpty, s"temp leftovers: ${leftovers.toSeq}")
    } finally {
      HookFs.markerMissOnce.set(null)
      spark.sql(s"DROP TABLE IF EXISTS graft_wobs_w_$uid")
      spark.sql(s"DROP TABLE IF EXISTS graft_wobs_l_$uid")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("writeOnceStage no-winner rename failure throws instead of poisoning the stage") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.hookfs.impl", "graft.HookFs")
    val root = s"/tmp/graft_wos_fail_${java.util.UUID.randomUUID()}"
    val stage = s"hookfs:$root/stage1"
    HookFs.interceptSuffix = "/data"
    HookFs.failNext.set(true)
    try {
      // Transient rename failure with NO winner present: committing
      // the marker would poison the stage forever (every later read
      // served an empty dir), so the call must throw and leave no
      // marker behind.
      val e = intercept[RuntimeException] {
        graft.queries.PipelineQueries.writeOnceStage(spark,
          stage, "data", Seq("w").toDF("tag"))
      }
      assert(e.getMessage.contains("no winner"), e.getMessage)
      assert(!new java.io.File(s"$root/stage1/_staged").exists(),
        "failed publish committed a marker — stage poisoned")
      // The next call rebuilds cleanly once the fault clears.
      val ok = graft.queries.PipelineQueries.writeOnceStage(spark,
        stage, "data", Seq("w").toDF("tag")).collect()
      assert(ok.map(_.getString(0)).toSeq == Seq("w"))
    } finally {
      HookFs.interceptSuffix = ""
      HookFs.failNext.set(false)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("native roundAway matches Spark round() on the micro-quantize path") {
    import spark.implicits._
    // The native IVF expressions quantize with roundAway; the oracle
    // uses SQL round(). Sweep deterministic pseudo-random floats
    // (both signs, many magnitudes) plus exact .5 ties and compare
    // the engine's own round(v*1e6, 0) against graft_microq.
    val rnd = new scala.util.Random(42)
    val floats = Seq.fill(20000)(((rnd.nextFloat() - 0.5f) *
        (1 << rnd.nextInt(8)))) ++
      Seq(0.5e-6f, -0.5e-6f, 1.5e-6f, -1.5e-6f, 0f, 1f, -1f)
    val df = floats.map(f => Tuple1(Array(f))).toDF("e")
    val bad = df.select(
        graft.expressions.Sketches.microQuantize(spark, col("e"))(0).as("n"),
        round(col("e")(0).cast("double") * 1e6, 0).as("s"))
      .filter(col("n") =!= col("s"))
      .collect()
    assert(bad.isEmpty, bad.take(5).mkString(", "))
  }

  test("q84 DSIR: O(D) model broadcasts; target docs score higher on average") {
    val df = SparkEntry.queries("q84_dsir_weights")(spark, sf)
    // The scoring join's build side is the 64-row log-ratio table —
    // it must broadcast (DSIR's whole point: the model is O(D), no
    // vocab-sized join anywhere). A SortMergeJoin here means the gram
    // stream got shuffled on the bucket key — corpus-sized, wrong.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"q84 scoring join is not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      "q84 plan shuffles the gram stream on a join key")
    val rows = df.collect()
    // Importance weights must actually separate the target slice:
    // mean log-weight of target docs strictly above non-target (the
    // target's own grams dominate its smoothed histogram).
    def mean(t: Boolean) = {
      val ws = rows.filter(_.getAs[Boolean]("is_target") == t)
        .map(_.getAs[Double]("logweight"))
      ws.sum / ws.length
    }
    assert(mean(true) > mean(false),
      s"DSIR failed to separate: target=${mean(true)} raw=${mean(false)}")
  }

  test("q85 epoch shuffle: dense per-shard positions, epochs permute differently") {
    val rows = SparkEntry.queries("q85_epoch_shard_shuffle")(spark, sf)
      .collect()
    val nDocs = rows.map(_.getAs[Long]("doc_id")).distinct.length
    assert(rows.length == 2 * nDocs) // every doc appears once per epoch
    // Positions are dense 1..|shard| within every (epoch, shard) —
    // the seekable-loader contract.
    rows.groupBy(r => (r.getAs[Int]("epoch"), r.getAs[Int]("shard")))
      .foreach { case ((e, sh), rs) =>
        val pos = rs.map(_.getAs[Int]("pos")).sorted
        assert(pos.sameElements(1 to rs.length),
          s"epoch=$e shard=$sh positions not dense: ${pos.take(5).toSeq}")
      }
    // Epochs must re-deal: some doc lands in a different shard in
    // epoch 1 (cross-shard mixing, not just intra-shard reorder).
    val byEpoch = rows.groupBy(_.getAs[Int]("epoch"))
      .map { case (e, rs) =>
        e -> rs.map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard")).toMap
      }
    val moved = byEpoch(0).count { case (d, sh) => byEpoch(1)(d) != sh }
    assert(moved > 0, "epoch 1 kept every doc in its epoch-0 shard")
  }

  test("q86 mining: 3 pos + 3 neg per anchor, labels honest, semi-hard only negs") {
    val rows = SparkEntry.queries("q86_hard_negatives")(spark, sf).collect()
    assert(rows.length == 18) // 3 anchors × (3 pos + 3 neg)
    val anchorLabel = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(0L, 1L, 2L))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label"))
      .toMap
    rows.foreach { r =>
      val al = anchorLabel(r.getAs[Long]("anchor_id"))
      val same = r.getAs[Int]("label") == al
      assert(same == (r.getAs[String]("kind") == "pos"),
        s"kind/label mismatch: $r (anchor label $al)")
      if (r.getAs[Boolean]("semi_hard"))
        assert(r.getAs[String]("kind") == "neg",
          s"semi_hard set on a positive: $r")
    }
    rows.groupBy(r => (r.getAs[Long]("anchor_id"), r.getAs[String]("kind")))
      .foreach { case (_, rs) =>
        assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 3))
      }
    // The mining ranks ride the same InferWindowGroupLimit rewrite the
    // q81 family pins — assert it holds here too (map tasks emit ≤ k
    // rows per (anchor, kind), never the corpus).
    val plan = SparkEntry.queries("q86_hard_negatives")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).nonEmpty,
      s"q86 lost its partial WindowGroupLimit:\n${plan.take(3000)}")
  }

  test("q90 tokenizer: lossless coverage, ids honest against the staged vocab") {
    val rows = SparkEntry.queries("q90_subword_tokenize")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Lossless coverage: per doc, the concatenated token text equals
    // the doc's words concatenated (greedy longest-match never skips
    // or duplicates a character; UNK still carries its character).
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split(" ").filter(_.nonEmpty).mkString)
      .toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val joined = rs.sortBy(_.getAs[Long]("pos"))
        .map(_.getAs[String]("token")).mkString
      assert(joined == docs(id),
        s"doc $id: token stream does not reassemble the text")
    }
    // Ids honest: token_id > 0 ↔ the token is the staged vocab entry
    // at that rank; token_id 0 (UNK) is a single character NOT in the
    // vocab.
    val vocab = graft.queries.PipelineQueries.subwordVocabList(spark, sf)
    rows.foreach { r =>
      val id = r.getAs[Long]("token_id"); val t = r.getAs[String]("token")
      if (id > 0) assert(vocab(id.toInt - 1) == t, s"id/token drift: $r")
      else {
        assert(t.codePointCount(0, t.length) == 1, s"multi-char UNK: $r")
        assert(!vocab.contains(t), s"UNK for an in-vocab token: $r")
      }
    }
    // Greedy longest-match: no emitted token is extendable — the token
    // plus its successor's first code point is never itself in vocab…
    // that IS what the DuckDB oracle replays; here pin the cheap local
    // invariant that every multi-char token is in-vocab (covered
    // above) and that apply is MAP-ONLY: no hash exchange anywhere
    // (the only exchange is the output ordering's range partition).
    val plan = SparkEntry.queries("q90_subword_tokenize")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q90 apply should be map-only:\n${plan.take(2000)}")
  }

  test("q90b packing: n_tokens equals the q90 stream; q41 mechanics intact") {
    val pack = SparkEntry.queries("q90b_token_packing")(spark, sf).collect()
    val tokCounts = SparkEntry.queries("q90_subword_tokenize")(spark, sf)
      .groupBy(col("doc_id")).count().collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
    pack.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_tokens") == tokCounts.getOrElse(id, 0L),
        s"doc $id: packed n_tokens disagrees with the q90 stream")
      val off = r.getAs[Long]("offset_in_bin")
      assert(off >= 0 && off < 512)
      assert(r.getAs[Long]("bin_in_bucket") >= 0)
    }
    assert(pack.length == Tables.documents(spark, sf).count())
  }

  test("q93 shard export: deterministic, balanced, map-only, writable") {
    import graft.queries.PipelineQueries
    val ledger = SparkEntry.queries("q93_shard_export")(spark, sf).collect()
    assert(ledger.length == 8, "one ledger row per shard")
    // Ledger conservation: every doc and every token lands in exactly
    // one shard.
    val nDocs = Tables.documents(spark, sf).count()
    assert(ledger.map(_.getAs[Long]("n_docs")).sum == nDocs)
    val q90bTokens = SparkEntry.queries("q90b_token_packing")(spark, sf)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(ledger.map(_.getAs[Long]("n_tokens")).sum == q90bTokens)
    // The shard knob is a pure re-deal of the same bins: totals are
    // invariant across it (drives the parameterized core directly —
    // the public entry point stays pinned to the oracle's 8).
    val l4 = PipelineQueries.q93ShardExportCore(spark, sf,
      nShards = 4, binTokens = 512).collect()
    assert(l4.length == 4)
    for (c <- Seq("n_docs", "n_bins", "n_tokens"))
      assert(ledger.map(_.getAs[Long](c)).sum ==
        l4.map(_.getAs[Long](c)).sum,
        s"$c not conserved across the shard knob")
    // Balance: the documented bound — shard totals differ by at most
    // one bin per bucket, each bin at most the realized max bin size.
    val buckets = PipelineQueries.packBuckets(nDocs)
    val maxBin = ledger.map(_.getAs[Long]("max_bin_tokens")).max
    val totals = ledger.map(_.getAs[Long]("n_tokens"))
    assert(totals.max - totals.min <= buckets.toLong * maxBin,
      s"spread ${totals.max - totals.min} exceeds bound ${buckets * maxBin}")
    // Map-only assignment: the shard id adds NO exchange beyond the
    // one window shuffle q90b already pays (no sort, no repartition).
    val assignPlan = PipelineQueries.q90bShardAssign(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r
      .findAllIn(assignPlan).length == 1,
      s"assignment should reuse q90b's single window exchange:\n" +
        assignPlan.take(2000))
    assert(!assignPlan.contains("Exchange rangepartitioning"),
      "assignment must not global-sort")
    // The physical last mile: partitionBy(shard_id) writes one
    // directory per shard, and membership is deterministic across
    // independent runs (reshuffle-proof export).
    val tmp = java.nio.file.Files.createTempDirectory("q93shards").toString
    PipelineQueries.q90bShardAssign(spark, sf)
      .write.mode("overwrite").partitionBy("shard_id").parquet(tmp)
    val dirs = new java.io.File(tmp).listFiles()
      .filter(_.getName.startsWith("shard_id=")).map(_.getName).sorted
    assert(dirs.sameElements((0 to 7).map(i => s"shard_id=$i")),
      s"expected 8 shard dirs, got ${dirs.toSeq}")
    // cast: parquet partition-dir values read back as int by inference
    val m1 = spark.read.parquet(tmp)
      .select(col("doc_id"), col("shard_id").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = PipelineQueries.q90bShardAssign(spark, sf)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2, "shard membership drifted between runs")
  }

  test("q96 token-budget select: budget respected, tiers ordered, no corpus sort") {
    import graft.queries.PipelineQueries
    val sel = SparkEntry.queries("q96_token_budget_select")(spark, sf).collect()
    assert(sel.nonEmpty)
    val totalTokens = Tables.documents(spark, sf)
      .agg(sum(coalesce(size(split(trim(col("text")), " ")), lit(0))
        .cast("long"))).collect()(0).getLong(0)
    val budget = totalTokens / 4
    val selTokens = sel.map(_.getAs[Long]("n_tokens")).sum
    assert(selTokens <= budget, s"selected $selTokens > budget $budget")
    // Tier separation: every wholesale-selected bucket outranks the
    // boundary bucket, and nothing above the boundary is left out.
    val above = sel.filter(_.getAs[String]("tier") == "above_cutoff")
    val bdry = sel.filter(_.getAs[String]("tier") == "boundary")
    if (above.nonEmpty && bdry.nonEmpty) {
      val minAbove = above.map(_.getAs[Double]("quality_score")).min
      val bScore = bdry.map(_.getAs[Double]("quality_score")).distinct
      assert(bScore.length == 1, "boundary must be a single score bucket")
      assert(minAbove > bScore.head)
    }
    val selIds = sel.map(_.getAs[Long]("doc_id")).toSet
    val leftOutBetter = PipelineQueries.q17Quality(spark, sf)
      .select(col("doc_id"), col("quality_score")).collect()
      .filter(r => !selIds.contains(r.getLong(0)))
      .map(_.getAs[Double]("quality_score"))
    if (leftOutBetter.nonEmpty && bdry.nonEmpty)
      assert(leftOutBetter.max <= bdry.head.getAs[Double]("quality_score"),
        "a doc above the boundary score was left out wholesale")
    // The cutoff histogram is score-grid-bounded: the corpus is never
    // range-shuffled (the only range exchange is the 1-row-per-doc
    // presentation sort at the end).
    val plan = PipelineQueries.q96TokenBudgetSelect(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(plan).length <= 1,
      "unexpected corpus-wide sort")
  }

  test("q96 boundary refinement stays bounded on a constant-score corpus") {
    import graft.queries.PipelineQueries
    // The r19 verdict #3 adversarial case: EVERY doc lands in one
    // score bucket, so the per-bucket refinement window would
    // degenerate into the corpus-wide sort q96 exists to avoid. The
    // secondary doc_id-range histogram keeps it bounded: sub-bucket
    // width ceil(n/10000), full sub-buckets wholesale, one sub-bucket
    // refined row-wise.
    val n = 50000L
    val rem = 12345L
    val bd = spark.range(0, n).select(
      col("id").as("doc_id"), lit(0.5).as("quality_score"),
      lit(1L).as("n_tokens"), lit(rem).as("rem"))
    val sel = PipelineQueries.boundedBoundaryRefine(bd)
    val got = sel.collect()
    assert(got.forall(_.getAs[String]("tier") == "boundary"))
    // Selected set = the doc_id-ordered prefix whose running token
    // sum fits rem — identical to the plain single-window semantics.
    assert(got.map(_.getAs[Long]("doc_id")).sorted
      .sameElements(0L until rem), "not the doc_id-ordered prefix")
    // Above the row gate the histogram level MUST engage: the plan
    // carries the sub-bucket aggregate, and the only doc-ordered
    // window left runs over the recursed boundary slice, whose row
    // count the gate has bounded (<= RefineWindowMaxRows).
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("sub#"),
      "50k-row constant-score frame skipped the histogram level")
    // A frame at or under the gate takes the direct bounded window —
    // no histogram machinery.
    val small = spark.range(0, 100).select(
      col("id").as("doc_id"), lit(0.5).as("quality_score"),
      lit(1L).as("n_tokens"), lit(50L).as("rem"))
    val smallPlan = PipelineQueries.boundedBoundaryRefine(small)
      .queryExecution.executedPlan.toString
    assert(!smallPlan.contains("sub#"),
      "a 100-row frame should take the direct-window base case")
    // General equivalence (zeros included): random token counts vs a
    // driver-side brute prefix.
    val toks = (0L until 3000L).map(i => i -> (i * 2654435761L) % 7)
    val rem2 = 1000L
    var acc = 0L
    val expect = toks.takeWhile { case (_, t) => acc += t; acc <= rem2 }
      .map(_._1)
    import spark.implicits._
    val bd2 = toks.toDF("doc_id", "n_tokens")
      .select(col("doc_id"), lit(0.5).as("quality_score"),
        col("n_tokens"), lit(rem2).as("rem"))
    val got2 = PipelineQueries.boundedBoundaryRefine(bd2)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(got2.sameElements(expect), "refinement drifted from the " +
      "single-window prefix semantics")
    // Sparse / shard-prefixed id space (the r20 review case): ids
    // clustered low with one far outlier. Width derives from the
    // frame's own [min, max] span and recursion re-splits the hot
    // slice, so the selection is still the exact id-ordered prefix.
    val sparseIds = (0L until 2000L).map(_ + 5L) :+ 1000000000000L
    val rem3 = 500L
    val bd3 = sparseIds.toDF("doc_id")
      .select(col("doc_id"), lit(0.5).as("quality_score"),
        lit(1L).as("n_tokens"), lit(rem3).as("rem"))
    val got3 = PipelineQueries.boundedBoundaryRefine(bd3)
      .collect().map(_.getAs[Long]("doc_id")).sorted
    assert(got3.sameElements((0L until rem3).map(_ + 5L)),
      "sparse-id space broke the prefix selection")
  }

  test("q95 corpus build: shard-knob conservation, determinism, no global sort") {
    import graft.queries.PipelineQueries
    val l8 = SparkEntry.queries("q95_corpus_build")(spark, sf).collect()
    assert(l8.length == 8, "one ledger row per shard")
    // The shard count is a pure re-deal of the same bins: totals are
    // invariant across the knob (conservation through the whole
    // recipe -> sample -> tokenize -> pack chain).
    val l4 = PipelineQueries.q95CorpusBuildCore(spark, sf, nShards = 4, binTokens = 512).collect()
    assert(l4.length == 4)
    for (c <- Seq("n_docs", "n_bins", "n_tokens"))
      assert(l8.map(_.getAs[Long](c)).sum == l4.map(_.getAs[Long](c)).sum,
        s"$c not conserved across the shard knob")
    // Sampling is a strict sub-pool of the kept train split.
    val keptTrain = PipelineQueries.q53CorpusRecipe(spark, sf)
      .filter(col("keep") && col("split") === "train").count()
    val built = l8.map(_.getAs[Long]("n_docs")).sum
    assert(built > 0 && built <= keptTrain,
      s"built $built docs from a $keptTrain-doc kept train pool")
    // Deterministic across runs (staged verdict + hash sampling +
    // hash packing — nothing depends on partitioning or run order).
    val again = SparkEntry.queries("q95_corpus_build")(spark, sf).collect()
    assert(l8.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // No corpus-sized global sort anywhere: the only range exchange
    // allowed is the final 8-row ledger presentation sort.
    val plan = PipelineQueries.q95CorpusBuild(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange rangepartitioning".r.findAllIn(plan).length <= 1,
      "unexpected global sort in the build plan")
  }

  test("q95b incremental build: equals the from-scratch rebuild, one text scan") {
    import graft.queries.PipelineQueries
    // The q25b equivalence pattern at pipeline scale: the incremental
    // build (staged base metadata + arrivals-only delta + q89-merged
    // rates) must produce the BIT-IDENTICAL ledger to the one-shot
    // q95 rebuild over the whole pool.
    val incr = SparkEntry.queries("q95b_corpus_build_incr")(spark, sf)
    val full = SparkEntry.queries("q95_corpus_build")(spark, sf)
    assert(incr.collect().map(_.toSeq).toSeq ==
      full.collect().map(_.toSeq).toSeq,
      "incremental ledger drifted from the from-scratch rebuild")
    // Incrementality pin (the q89 spec's discipline): the corpus TEXT
    // is scanned exactly once, in the arrivals delta — the standing
    // pool's tokenize cost is amortized by the staged sized frame.
    // The rate-merge branches scan documents twice more (counts feeds
    // nMin and the rate table), but column pruning keeps both at
    // doc_id+source — metadata-width, arrival-filtered. Plan read
    // from a FRESH unexecuted frame: after collect the adaptive plan
    // string duplicates every scan under "== Initial Plan ==".
    val plan = SparkEntry.queries("q95b_corpus_build_incr")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("q95bsized_"),
      "q95b does not read the staged base sized frame")
    assert(plan.contains("q95bstats_"),
      "q95b does not read the staged base stats")
    val docScans = plan.split('\n').filter(_.contains("documents.parque"))
    assert(docScans.nonEmpty && docScans.length <= 3,
      s"expected <=3 documents scans (1 text delta + 2 pruned rate " +
        s"branches), got ${docScans.length}")
    assert(docScans.count(_.contains("text")) == 1,
      "the corpus text column must be scanned exactly once (the delta)")
    // Every documents scan is arrival-gated: the % 10 slice filter
    // sits in the scan's data filters, never a bare corpus scan.
    assert(docScans.forall(_.contains("% 10")),
      "a documents scan is missing the arrivals slice filter")
  }

  test("q94 temperature sampling: rates from counts, broadcast-only plan") {
    import graft.queries.PipelineQueries
    val df = SparkEntry.queries("q94_temperature_sample")(spark, sf)
    val kept = df.collect()
    val srcCounts = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = srcCounts.values.min
    // Rate law: rate_micro = round(1e6·sqrt(n_min/n_s)); the smallest
    // source keeps 100% of its docs (rate exactly 1e6).
    val rates = kept.map(r => r.getString(1) -> r.getLong(2)).toMap
    rates.foreach { case (src, rm) =>
      val expect = BigDecimal(1000000.0 *
        (math.sqrt(nMin.toDouble) / math.sqrt(srcCounts(src).toDouble)))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(rm == expect, s"$src rate $rm != $expect")
    }
    val minSrc = srcCounts.minBy(_._2)._1
    assert(rates.get(minSrc).forall(_ == 1000000L))
    assert(kept.count(_.getString(1) == minSrc) == nMin,
      "the smallest source must survive intact")
    // Downsampling monotonicity: a larger source never keeps a larger
    // FRACTION than a smaller one (rates are monotone in n_s).
    val keptBySrc = kept.groupBy(_.getString(1)).view.mapValues(_.length)
    for (a <- srcCounts.keys; b <- srcCounts.keys
         if srcCounts(a) < srcCounts(b) && rates.contains(a) && rates.contains(b))
      assert(rates(a) >= rates(b), s"rate($a) < rate($b)")
    // Realized fraction tracks the rate (hash uniformity, fixed data —
    // deterministic, generous bound for the small fixture).
    keptBySrc.foreach { case (src, n) =>
      val frac = n.toDouble / srcCounts(src)
      val rate = rates(src) / 1e6
      assert(math.abs(frac - rate) < 0.15, s"$src frac $frac vs rate $rate")
    }
    // Plan: the rate table attaches via broadcast — no sort-merge join,
    // and the only exchanges are the |sources|-row aggregate's, never a
    // corpus-sized repartition of documents.
    val plan = PipelineQueries.q94TemperatureSample(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin"), "rate join must broadcast")
  }

  test("BPE apply expression: encode-loop semantics on hand-built merges") {
    import spark.implicits._
    // merges: 1=(a,b) 2=(c,d) 3=(ab,cd) — "abcd" must fold bottom-up
    // (lowest-rank present pair first), landing on one "abcd" token
    // whose id is merge 3.
    val merges = Seq(("a", "b"), ("c", "d"), ("ab", "cd"))
    def toks(word: String): Seq[(Long, String)] =
      Seq(word).toDF("t").select(col("t"))
        .select(graft.expressions.Subword.bpeTokenize(spark,
          split(col("t"), " "), merges).as("x"))
        .selectExpr("inline(x)").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(toks("abcd") == Seq((3L, "abcd")))
    // left-to-right non-overlapping within one merge pass: "aab" has
    // (a,a)? not a merge; (a,b) merges at 2-3 → [a, ab]
    assert(toks("aab") == Seq((0L, "a"), (1L, "ab")))
    // untrained chars pass through as id-0 singles
    assert(toks("xbay") ==
      Seq((0L, "x"), (0L, "b"), (0L, "a"), (0L, "y")))
    // multiple words tokenize independently, in order
    assert(toks("ab cd") == Seq((1L, "ab"), (2L, "cd")))
    // the oracle's separator fallback: a U+0001 word is emitted whole
    assert(toks("a\u0001b") == Seq((0L, "a\u0001b")))
    // duplicate-string merges: 1=(a,bc) and 3=(ab,c) both concat to
    // "abc" — token_id is the LOWEST such rank on every path
    val merges2 = Seq(("a", "bc"), ("a", "b"), ("ab", "c"), ("b", "c"))
    def toks2(word: String): Seq[(Long, String)] =
      Seq(word).toDF("t")
        .select(graft.expressions.Subword.bpeTokenize(spark,
          split(col("t"), " "), merges2).as("x"))
        .selectExpr("inline(x)").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    // "abc": lowest present pair is (a,b) rank 2 → [ab, c]; then
    // (ab,c) rank 3 → "abc", reported with id 1 (lowest concat rank)
    assert(toks2("abc") == Seq((1L, "abc")))
  }

  test("q90c BPE: lossless coverage, ids honest, map-only plan") {
    val rows = SparkEntry.queries("q90c_bpe_tokenize")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Lossless coverage, as q90: the token stream reassembles the text
    val docs = Tables.documents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").trim.split(" ").filter(_.nonEmpty).mkString)
      .toMap
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val joined = rs.sortBy(_.getAs[Long]("pos"))
        .map(_.getAs[String]("token")).mkString
      assert(joined == docs(id),
        s"doc $id: BPE stream does not reassemble the text")
    }
    // Ids honest against the staged merge table: id > 0 ↔ the token
    // equals the concat of the merge at that rank AND no lower rank
    // concats to the same string; id 0 tokens are not any merge's
    // concat (base chars / fallbacks).
    val merges = graft.queries.PipelineQueries.bpeMergesList(spark, sf)
    val concat = merges.map { case (p1, p2) => p1 + p2 }
    rows.foreach { r =>
      val id = r.getAs[Long]("token_id"); val t = r.getAs[String]("token")
      if (id > 0) assert(concat.indexOf(t) == id - 1, s"id/merge drift: $r")
      else assert(!concat.contains(t), s"id 0 for a merge concat: $r")
    }
    // Map-only apply, as q90: the only exchange is the output range
    // partition.
    val plan = SparkEntry.queries("q90c_bpe_tokenize")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q90c apply should be map-only:\n${plan.take(2000)}")
  }

  test("BPE trainer: incremental pair maintenance matches a full recount") {
    import graft.queries.PipelineQueries
    // Reference: the pre-r20 recount-everything loop, re-derived here
    // as the spec's independent twin (count all pairs over the whole
    // dict per merge; argmax count desc then UTF-8-byte pair order;
    // stop below count 2).
    def naive(wc: Array[(String, Long)],
        maxMerges: Int): Seq[(String, String)] = {
      def cpLt(a: String, b: String): Boolean = {
        val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
        var i = 0
        while (i < x.length && i < y.length) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      }
      var segs: Array[(Array[String], Long)] = wc.map { case (w, f) =>
        (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))), f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var halt = false
      while (!halt && out.length < maxMerges) {
        val counts =
          scala.collection.mutable.HashMap.empty[(String, String), Long]
        segs.foreach { case (seg, f) =>
          (0 until seg.length - 1).foreach { i =>
            val k = (seg(i), seg(i + 1))
            counts.update(k, counts.getOrElse(k, 0L) + f)
          }
        }
        val best = counts.reduceOption[((String, String), Long)] {
          case (a @ (ap, ac), b @ (bp, bc)) =>
            if (bc > ac || (bc == ac && (cpLt(bp._1, ap._1) ||
              (bp._1 == ap._1 && cpLt(bp._2, ap._2))))) b else a
        }
        best match {
          case Some(((p1, p2), c)) if c >= 2 =>
            out += ((p1, p2))
            segs = segs.map { case (seg, f) =>
              val nb = scala.collection.mutable.ArrayBuffer.empty[String]
              var j = 0
              while (j < seg.length) {
                if (j < seg.length - 1 && seg(j) == p1 && seg(j + 1) == p2) {
                  nb += p1 + p2; j += 2
                } else { nb += seg(j); j += 1 }
              }
              (nb.toArray, f)
            }
          case _ => halt = true
        }
      }
      out.toSeq
    }
    // Fixed-seed random dict over a small alphabet: heavy pair
    // collisions, overlap runs ("aaa"), ties — the cases where
    // incremental maintenance could drift.
    val rnd = new scala.util.Random(42)
    val wc = Array.tabulate(200) { _ =>
      val len = 1 + rnd.nextInt(8)
      val w = (0 until len).map(_ => ('a' + rnd.nextInt(3)).toChar)
        .mkString
      w -> (1L + rnd.nextInt(5))
    }.groupBy(_._1).map { case (w, g) => w -> g.map(_._2).sum }.toArray
    val (inc, _) = PipelineQueries.bpeTrainCore(wc, 50)
    assert(inc == naive(wc, 50),
      "incremental trainer drifted from the full-recount merge sequence")
    // Non-BMP symbols compare in UTF-8 byte order on both paths.
    val astral = Array("😀a" -> 2L, "😁a" -> 2L,
      "za" -> 2L)
    assert(PipelineQueries.bpeTrainCore(astral, 10)._1 ==
      naive(astral, 10))
  }

  test("BPE trainer: 1k-merge work scales with pair sites, not dict size") {
    import graft.queries.PipelineQueries
    // r19 verdict #5: the full-recount loop made BpeMergeCount an
    // honest-but-small knob (O(merges x dict)). With live pair
    // maintenance each merge touches only the words containing the
    // pair. Dict: 1024 words, each a distinct 2-symbol pair with
    // freq 2 — every merge has count 2, touches exactly ONE word, and
    // 1024 merges complete (each word collapses to a single symbol).
    val wc = Array.tabulate(1024) { i =>
      val a = new String(Character.toChars(0x4E00 + 2 * i))
      val b = new String(Character.toChars(0x4E00 + 2 * i + 1))
      (a + b) -> 2L
    }
    val (merges, touched) = PipelineQueries.bpeTrainCore(wc, 1024)
    assert(merges.length == 1024, s"expected 1024 merges, got ${merges.length}")
    // Work gauge: ~1 word per merge; a full recount would visit
    // merges x |dict| = 1,048,576 words.
    assert(touched <= 3 * 1024L,
      s"merge work $touched is dict-scan-shaped, not site-local")
    // Merge order is deterministic: count ties resolve in UTF-8 byte
    // order, so the lowest code points merge first.
    assert(merges.head == (new String(Character.toChars(0x4E00)),
      new String(Character.toChars(0x4E01))))
  }

  test("q92 BM25: ranks dense, scores positive+monotone, candidates df-pruned") {
    val rows = SparkEntry.queries("q92_bm25_more_like_this")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).sameElements(1 to rs.length))
      // scores non-increasing with rank (the whole point of a ranking)
      val scores = byRank.map(_.getAs[Long]("score_micro"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("score_micro") > 0L, s"non-positive BM25 score: $r")
      val h = r.getAs[Long]("n_terms_hit")
      assert(h >= 1L && h <= 3L, s"terms hit outside 1..3: $r")
      assert(!Seq(0L, 1L, 2L).contains(r.getAs[Long]("doc_id")) ||
        r.getAs[Long]("doc_id") != r.getAs[Long]("query_id"),
        s"anchor retrieved itself: $r")
    }
    // Retrieval must walk the inverted index, not the corpus: the
    // candidate join is the broadcast 9-row query-term frame, and the
    // per-query top-k rides the partial WindowGroupLimit.
    val plan = SparkEntry.queries("q92_bm25_more_like_this")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "q92 fell back to a corpus cross join")
    assert("WindowGroupLimit.*Partial".r.findFirstIn(plan).nonEmpty,
      s"q92 lost its partial WindowGroupLimit:\n${plan.take(3000)}")
  }

  test("q86 mining: anchor with no positives keeps its negatives (null semi-hard)") {
    import spark.implicits._
    // Anchor 0's label is unique in the corpus — before the left-join
    // fix (r17 advice) the inner join to the per-anchor max-positive
    // dropped ALL its rows, hard negatives included, and the report
    // silently omitted the anchor.
    val emb = Seq(
      (0L, 99, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, 1, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, 1, Seq(0.8f, 0.2f, 0.0f, 0.0f)),
      (3L, 1, Seq(0.7f, 0.3f, 0.0f, 0.0f)),
      (4L, 1, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val rows = graft.queries.PipelineQueries
      .hardNegativesCore(spark, emb, Seq(0L), k = 3).collect()
    assert(rows.length == 3, s"anchor with no positives lost rows: ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[String]("kind") == "neg", s"phantom positive: $r")
      assert(r.isNullAt(r.fieldIndex("semi_hard")),
        s"semi_hard must be null when the anchor has no positives: $r")
    }
  }

  test("q87 DSIR gate: batch splits reproduce the drain; zero state operators") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("w_micro"), r.getAs[Boolean]("keep"))
    val want = SparkEntry.queries("q87_stream_dsir_gate")(spark, sf)
      .collect().map(key).toSet
    assert(want.nonEmpty)
    // The gate must actually gate: the fixture's arrivals straddle the
    // w_micro >= 0 threshold (otherwise keep is a constant column and
    // the entry proves nothing).
    assert(want.exists(_._4) && want.exists(!_._4),
      "arrivals do not straddle the keep threshold")
    val arrivals = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = arrivals.partition(_._1 % 20 == 0)
    val ms = MemoryStream[(Long, String)]
    val gate = graft.streaming.StreamingJobs.dsirGateStream(spark,
      ms.toDF().toDF("doc_id", "text"), sf)
    val name = "q87_crossbatch_test"
    val q = gate.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table(name).collect().map(key).toSet
      assert(got == want, s"missing=${want -- got} extra=${got -- want}")
      // Stateless AND shuffle-free: scoring is per-row array algebra
      // against the broadcast model literal — no state store exists to
      // grow with the stream.
      assert(q.lastProgress.stateOperators.isEmpty,
        s"unexpected state operators: ${
          q.lastProgress.stateOperators.map(_.operatorName).toSeq}")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q91 token gate: batch splits reproduce the drain; junk rejected; stateless") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_unk"),
        r.getAs[Boolean]("keep"))
    val want = SparkEntry.queries("q91_stream_token_gate")(spark, sf)
      .collect().map(key).toSet
    assert(want.nonEmpty)
    // The gate must actually gate on the fixture: arrivals straddle
    // the fertility threshold.
    assert(want.exists(_._5) && want.exists(!_._5),
      "arrivals do not straddle the fertility threshold")
    val arrivals = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // Planted junk: characters the sample-trained vocab has never
    // seen tokenize as one UNK per char — fertility explodes and the
    // gate must reject (and account every UNK).
    val junkId = arrivals.map(_._1).max + 10
    val (b1, b2) = arrivals.partition(_._1 % 20 == 0)
    val ms = MemoryStream[(Long, String)]
    val gate = graft.streaming.StreamingJobs.tokenGateStream(spark,
      ms.toDF().toDF("doc_id", "text"), sf)
    val name = "q91_crossbatch_test"
    val q = gate.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      ms.addData((b2 :+ (junkId, "@@## !!&& ~~^^")).toSeq: _*)
      q.processAllAvailable()
      val got = spark.table(name).collect().map(key).toSet
      val junk = got.filter(_._1 == junkId)
      assert(junk.size == 1)
      val (_, jw, jt, ju, jkeep) = junk.head
      assert(jw == 3L && jt == 12L && ju == 12L && !jkeep,
        s"junk doc accounting wrong: ${junk.head}")
      assert(got - junk.head == want,
        s"missing=${want -- got} extra=${(got - junk.head) -- want}")
      // Stateless AND shuffle-free: per-row expression work against
      // the vocab bound in the expression — no state store.
      assert(q.lastProgress.stateOperators.isEmpty,
        s"unexpected state operators: ${
          q.lastProgress.stateOperators.map(_.operatorName).toSeq}")
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }

  test("q86b ANN mining: candidates only from probed cells; tail matches q86 semantics") {
    val rows = SparkEntry.queries("q86b_hard_negatives_ann")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Every mined row must be a vector from the anchor's probed cells —
    // recompute the probe set via the same staged quantizer the engine
    // uses and assert containment (the mining tail never reads outside
    // the index's candidates).
    val emb = Tables.embeddings(spark, sf)
    val brute = graft.queries.PipelineQueries
      .hardNegativesCore(spark, emb, Seq(0L, 1L, 2L), k = 3)
      .collect().map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("vec_id")))
      .toSet
    // ANN mining is a subset relation on CANDIDATES, not on the mined
    // top-k (a probed-cell top-k can include vectors the brute top-k
    // ranked below k) — so pin the semantics instead: ranks dense per
    // (anchor, kind), cosine within bounds, semi-hard only on negs.
    rows.groupBy(r => (r.getAs[Long]("anchor_id"), r.getAs[String]("kind")))
      .foreach { case (_, rs) =>
        val ranks = rs.map(_.getAs[Int]("rank")).sorted
        assert(ranks.sameElements(1 to ranks.length), s"ranks not dense")
      }
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("cos_sim")) <= 1.0)
      if (!r.isNullAt(r.fieldIndex("semi_hard")) &&
          r.getAs[Boolean]("semi_hard"))
        assert(r.getAs[String]("kind") == "neg")
    }
    // The probe must prune: the executed plan reads the staged
    // segments, never a corpus cross join (q86's shape).
    val plan = SparkEntry.queries("q86b_hard_negatives_ann")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ivfseg_"), "q86b does not read the staged index")
    assert(!plan.contains("CartesianProduct"),
      "q86b fell back to a corpus cross join")
    // Mining must read nProbe/nCells of the segment files, not all of
    // them — the partition-pruning contract inherited from q25b.
    assert(plan.toLowerCase.contains("dynamicpruning"),
      "q86b candidate scan not dynamically partition-pruned")
    assert(brute.nonEmpty) // brute tail still healthy alongside
  }
}

/** Test-only FileSystem ("hookfs" scheme, local-disk backed) that
  * intercepts renames whose DESTINATION ends with a configured suffix
  * — the lever the writeOnceStage concurrency specs use to hold two
  * writers at the publish point (barrier) or inject a transient
  * rename failure (failNext). Only the stage-level tmp→dst rename
  * matches the suffix; the parquet committer's internal renames pass
  * straight through.
  */
class HookFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "hookfs"
  override def getUri: java.net.URI = java.net.URI.create("hookfs:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (HookFs.matches(dst)) {
      val b = HookFs.barrier
      if (b != null)
        try b.await(30, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: Exception => () }
      if (HookFs.failNext.getAndSet(false)) return false
    }
    super.rename(src, dst)
  }
  // One-shot hook on a MISSED `_GRAFT_STAGED` existence check: fires
  // AFTER the miss is computed (the caller still sees false), letting
  // a test install a fully published winner stage between the
  // bucketed publisher's pre-build check and its pre-delete re-check —
  // the cross-JVM race window that can't be reached with two threads
  // (the publisher is JVM-synchronized).
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    val r = super.exists(p)
    if (!r && p.toString.endsWith("_GRAFT_STAGED")) {
      val cb = HookFs.markerMissOnce.getAndSet(null)
      if (cb != null) cb(p)
    }
    r
  }
}

object HookFs {
  @volatile var interceptSuffix: String = ""
  @volatile var barrier: java.util.concurrent.CyclicBarrier = null
  val failNext = new java.util.concurrent.atomic.AtomicBoolean(false)
  val markerMissOnce = new java.util.concurrent.atomic.AtomicReference[
    org.apache.hadoop.fs.Path => Unit](null)
  def matches(p: org.apache.hadoop.fs.Path): Boolean =
    interceptSuffix.nonEmpty && p.toString.endsWith(interceptSuffix)
}
