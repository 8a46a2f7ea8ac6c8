package graft

import graft.llm.{SimilarityOps, TextDedupOps, TextStatsOps}
import org.apache.spark.sql.functions._

/** LLM-pipeline operator specs: planted-duplicate recall for MinHash,
  * SimHash invariants, similarity-search consistency. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = {
    val base = (0L until 40L).map { i =>
      val words = (0 until 30).map(j => s"w${(i * 7 + j * 13) % 50}")
      (i, words.mkString(" "))
    }
    // plant exact clones of docs 0-9 as ids 100-109
    val clones = (0L until 10L).map(i => (i + 100L, base(i.toInt)._2))
    (base ++ clones).toDF("doc_id", "text")
  }

  test("minhash + LSH finds every planted exact duplicate") {
    val sigs = TextDedupOps.minHashSignatures(docs, "doc_id", "text", 3, 32)
    val pairs = TextDedupOps.lshCandidatePairs(sigs, "doc_id", bands = 8, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0L until 10L).foreach { i =>
      assert(pairs.contains((i, i + 100L)), s"missing planted pair $i")
    }
  }

  test("lsh hot-bucket cap drops boilerplate buckets, keeps cool-bucket pairs") {
    // Boilerplate cluster: 40 docs sharing a 29-word template plus one
    // unique tail word each — their band buckets are dominated by the
    // template shingles, so most land in the same hot (band, hash)
    // buckets and the uncapped pair count grows quadratically (the
    // 100 TB site-chrome pathology). A clean exact-clone pair with
    // disjoint vocabulary sits in occupancy-2 buckets.
    val template = (0 until 29).map(j => s"b$j").mkString(" ")
    val boiler = (200L until 240L).map(i => (i, s"$template unique$i"))
    val pairText = (0 until 30).map(j => s"w${j * 13 % 50}").mkString(" ")
    val df = (boiler ++ Seq((1L, pairText), (101L, pairText)))
      .toDF("doc_id", "text")
    val sigs = TextDedupOps.minHashSignatures(df, "doc_id", "text", 3, 32)
    val uncapped = TextDedupOps
      .lshCandidatePairs(sigs, "doc_id", bands = 8, threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = TextDedupOps
      .lshCandidatePairs(sigs, "doc_id", bands = 8, threshold = 0.0,
        maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the planted pair survives the cap (its buckets have occupancy 2)
    assert(capped.contains((1L, 101L)))
    // boilerplate blowup is bounded: uncapped is ~quadratic in cluster
    // size, the cap removes the hot buckets that produce it
    val boilerUncapped = uncapped.count { case (a, b) => a >= 200 && b >= 200 }
    val boilerCapped = capped.count { case (a, b) => a >= 200 && b >= 200 }
    assert(boilerUncapped > 100, s"expected quadratic blowup, got $boilerUncapped")
    assert(boilerCapped < boilerUncapped / 4,
      s"cap did not bound boilerplate pairs: $boilerCapped vs $boilerUncapped")
  }

  test("minHashSignatures: documents shorter than shingleN hash as one " +
      "whole-document shingle; NULL text has no signature") {
    val df = Seq[(Long, String)]((1L, ""), (2L, "!!! ..."), (3L, "hello"),
      (4L, "two words"), (5L, "Two  words!"), (6L, "words two"),
      (7L, null)).toDF("doc_id", "text")
    val sigs = TextDedupOps.minHashSignatures(df, "doc_id", "text", 3, 32)
    val byId = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    // NULL text (doc 7) has no shingle, so no signature row
    assert(byId.keySet == (1L to 6L).toSet)
    (1L to 6L).foreach { i =>
      assert(byId(i).size == 32 && byId(i).forall(_ != null), s"doc $i")
    }
    val pairs = TextDedupOps.lshCandidatePairs(sigs, "doc_id", bands = 8,
        threshold = 0.0)
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    // identical 2-word documents (after normalization) pair at 1.0, as
    // do the empty and the punctuation-only text (both normalize to "")
    assert(pairs.get((4L, 5L)) == Some(1.0), pairs)
    assert(pairs.get((1L, 2L)) == Some(1.0), pairs)
    // the whole-document shingle keeps word order
    assert(byId(4L) != byId(6L))
  }

  test("exact dedup keeps lowest id per content") {
    val out = TextDedupOps.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(out.size == 40)
    assert((0L until 40L).toSet == out) // clones (ids 100+) all dropped
  }

  test("simhash: identical texts equal, hamming 0; different texts differ") {
    val sh = TextDedupOps.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(i => assert(sh(i) == sh(i + 100L)))
    assert(sh(0L) != sh(20L))
    val h = docs.select(lit(sh(0L)).as("a"), lit(sh(100L)).as("b"))
      .select(TextDedupOps.hammingDistance(col("a"), col("b")).as("d"))
      .limit(1).as[Long].collect().head
    assert(h == 0L)
  }

  test("simHashNearDupPairs: banded Hamming buckets equal brute force") {
    // near-identical docs: clone docs 0-9 with ONE word changed → tiny
    // Hamming distance; banded generation must find exactly the pairs
    // brute force finds (pigeonhole: maxHamming = bands - 1)
    val nearDup = (0L until 10L).map { i =>
      val words = (0 until 30).map(j =>
        if (j == 7) "changed" else s"w${(i * 7 + j * 13) % 50}")
      (i + 200L, words.mkString(" "))
    }
    val df = docs.unionByName(nearDup.toDF("doc_id", "text"))
    val got = TextDedupOps
      .simHashNearDupPairs(df, "doc_id", "text", maxHamming = 3, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force reference over the collected simhashes
    val sh = TextDedupOps.simHash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, ha) <- sh; (ib, hb) <- sh if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(got == want, s"banded $got vs brute $want")
    // exact clones (hamming 0) are always among the pairs
    (0L until 10L).foreach(i => assert(got.contains((i, i + 100L))))
  }

  test("jaccardPairs: clones have jaccard 1.0") {
    val j = TextDedupOps.jaccardPairs(docs, "doc_id", "text", 3)
      .filter(col("id_b") === col("id_a") + 100)
      .select("jaccard").as[Double].collect()
    assert(j.length == 10 && j.forall(_ == 1.0))
  }

  test("decodeVideoFrames: MJPEG pixels decode, other codecs stay stub") {
    import graft.llm.MultimodalOps
    val jpegs = Seq(
      MultimodalOps.syntheticJpeg(32, 16, seed = 7),
      MultimodalOps.syntheticJpeg(24, 24, seed = 9),
      MultimodalOps.syntheticJpeg(16, 8, seed = 11))
    val mjpeg = MultimodalOps.syntheticMp4("isom", 1000, 3,
      Seq(("vide", 64, 48)), videoSamples = jpegs, videoCodec = "jpeg")
    val other = MultimodalOps.syntheticMp4("isom", 1000, 2,
      Seq(("vide", 64, 48)),
      videoSamples = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5, 6)),
      videoCodec = "mp4v")
    val df = Seq((1L, mjpeg), (2L, other)).toDF("asset_id", "payload")
    val out = MultimodalOps.decodeVideoFrames(df, everyNth = 1).collect()
      .map(m => (m.asset_id, m.frame_no) -> m).toMap
    // every MJPEG frame decodes with exact dims and the same pix_sum
    // an INDEPENDENT driver-side ImageIO decode of the same sample
    // bytes yields (plumbing + determinism, not just positivity)
    jpegs.zipWithIndex.foreach { case (bytes, i) =>
      val m = out((1L, i.toLong))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      var want = 0L
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        want += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      }
      assert(m.status == "ok" && m.codec == "jpeg")
      assert(m.width == img.getWidth && m.height == img.getHeight &&
        m.channels == 3)
      assert(m.pix_sum == want && m.pix_sum > 0,
        s"frame $i: ${m.pix_sum} vs $want")
    }
    // non-MJPEG codec: samples extracted but honestly stubbed
    (0L to 1L).foreach { i =>
      val m = out((2L, i))
      assert(m.status == "stub" && m.codec == "mp4v" && m.width == -1 &&
        m.pix_sum == -1L)
    }
  }

  test("lshIncremental: index hits drop, new-only clusters keep min id") {
    // trilinear word formula mod a large prime: a 3-consecutive-word
    // match across docs forces equal doc ids, so distinct texts share
    // NO shingle (a linear progression shares shifted runs — and
    // minhash correctly calls those near-dups, poisoning the fixture)
    def mkText(i: Long): String =
      (0 until 25).map(j => s"w${(i * 97 + j * 13 + i * j * 7) % 1009}")
        .mkString(" ")
    val existing = (0L until 10L).map(i => (i, mkText(i)))
      .toDF("doc_id", "text")
    val batch = ((20L until 25L).map(i => (i, mkText(i))) ++ Seq(
      (100L, mkText(3)),   // clone of EXISTING doc 3 → index hit, drops
      (200L, mkText(40)),  // new-only clone pair: min id survives ...
      (201L, mkText(40)),  // ... this one drops
      (300L, mkText(5)),   // clone pair that ALSO clones existing doc 5:
      (301L, mkText(5))))  // the whole component touches old → both drop
      .toDF("doc_id", "text")
    val idx = TextDedupOps.minHashSignatures(existing, "doc_id", "text",
      3, 32)
    val out = TextDedupOps.lshIncremental(batch, idx, "doc_id", "text",
      threshold = 0.99).select("doc_id").as[Long].collect().toSet
    assert(out == Set(20L, 21L, 22L, 23L, 24L, 200L), out.toSeq.sorted)
    // first-ingest shape: empty index ⇒ pure within-batch min-id dedup
    val out0 = TextDedupOps.lshIncremental(batch, idx.limit(0), "doc_id",
      "text", threshold = 0.99).select("doc_id").as[Long].collect().toSet
    assert(out0 == Set(20L, 21L, 22L, 23L, 24L, 100L, 200L, 300L),
      out0.toSeq.sorted)
  }

  test("simHashIncremental mirrors lshIncremental's survivorship") {
    def mkText(i: Long): String =
      (0 until 25).map(j => s"w${(i * 97 + j * 13 + i * j * 7) % 1009}")
        .mkString(" ")
    val existing = (0L until 10L).map(i => (i, mkText(i)))
      .toDF("doc_id", "text")
    val batch = ((20L until 25L).map(i => (i, mkText(i))) ++ Seq(
      (100L, mkText(3)), (200L, mkText(40)), (201L, mkText(40)),
      (300L, mkText(5)), (301L, mkText(5)))).toDF("doc_id", "text")
    val idx = TextDedupOps.simHash(existing, "doc_id", "text")
    val out = TextDedupOps.simHashIncremental(batch, idx, "doc_id", "text",
      maxHamming = 3, bands = 4).select("doc_id").as[Long].collect().toSet
    assert(out == Set(20L, 21L, 22L, 23L, 24L, 200L), out.toSeq.sorted)
  }

  test("bpeTrainMerges reproduces the hand-derived merge sequence") {
    // "the cat ate the thee cat": per doc (t,h)=3 (h,e)=3 (a,t)=3
    // (c,a)=2 (t,e)=1 (e,e)=1 — ties resolve by pair-string asc
    // (" a t " < " h e " < " t h "), then each merge reshapes the
    // counts as derived in the bpe_train_encode gate comment. The
    // sequence must hold at any corpus size (frequencies uniform).
    val corpus = (0L until 7L).map(i => (i, "the cat ate the thee cat"))
      .toDF("doc_id", "text")
    val trained = TextStatsOps.bpeTrainMerges(corpus, "text", numMerges = 6)
    assert(trained == Seq("a" -> "t", "h" -> "e", "t" -> "he",
      "c" -> "at", "at" -> "e", "the" -> "e"), trained)
    // early stop: once every word is one symbol no pair remains
    val more = TextStatsOps.bpeTrainMerges(corpus, "text", numMerges = 50)
    assert(more == trained, more)
  }

  test("byte-level BPE prices spaces/contractions the whitespace path cannot") {
    // Hand-computed against BpeDemoMerges. "the theme": both paths
    // merge identically inside letter runs (the=1 symbol;
    // theme=[the,m,e]), but the byte path prices the separating space
    // as its own Ġ symbol — ws 4 vs byte 5. "  double  spaced ":
    // double=[d,ou,b,le], spaced=[s,p,a,c,ed], plus FIVE whitespace
    // symbols (ĠĠ/ĠĠ/Ġ) the whitespace path silently drops — the
    // budget mis-sizing the pretokenizer exists to fix (GPT-2 counts
    // every space). "it's": one whitespace WORD but two PRETOKENS
    // (it + 's) — same symbol multiset here, so the artifact-level
    // grouping (tok_idx) is what distinguishes the paths.
    val df = Seq(
      (1L, "the theme"),
      (2L, "it's"),
      (3L, "  double  spaced ")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextStatsOps.bpeTokenCount(col("text")).as("ws"),
      TextStatsOps.bpeTokenCountBytes(col("text")).as("by")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((4L, 5L)), s"the theme: ${got(1L)}")
    assert(got(3L) == ((9L, 14L)), s"multi-space: ${got(3L)}")
    val enc = TextStatsOps.bpeEncodeTokensBytes(
      df.filter(col("doc_id") === 2), "doc_id", "text").collect()
    assert(enc.map(_.getInt(1)).max == 1, "it's must be TWO pretokens")
    assert(enc.map(r => (r.getInt(1), r.getInt(2), r.getString(3))).toSet ==
      Set((0, 0, "it"), (1, 0, "'"), (1, 1, "s")), enc.mkString(","))
    val encWs = TextStatsOps.bpeEncodeTokens(
      df.filter(col("doc_id") === 2), "doc_id", "text").collect()
    assert(encWs.map(_.getInt(1)).max == 0, "whitespace path: ONE word")
  }

  test("jaccardPairs maxShingleDocs bounds hot-shingle pair blowup") {
    // 10%-hot shingle corpus: 200 docs with disjoint vocabulary, every
    // 10th doc (20 docs) sharing one boilerplate trigram run —
    // uncapped, the shared shingles pair all
    // 20 hot docs with each other (190 pairs from boilerplate alone);
    // capped at maxShingleDocs=5 those shingles are dropped and the
    // boilerplate-only pairs VANISH while clone pairs (docfreq 2)
    // survive with jaccard 1.0 over the filtered universe.
    val boiler = "copyright terms of service apply to all visitors here"
    val base = (0L until 200L).map { i =>
      val words = (0 until 20).map(j => s"u${i}x$j").mkString(" ")
      val text = if (i % 10 == 0) s"$words $boiler" else words
      (i, text)
    }
    val df = (base ++ Seq((301L, base(1)._2), (303L, base(3)._2)))
      .toDF("doc_id", "text")
    val uncapped = TextDedupOps.jaccardPairs(df, "doc_id", "text", 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = TextDedupOps.jaccardPairs(df, "doc_id", "text", 3,
      maxShingleDocs = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // hot-doc pairs dominate uncapped output (20 hot docs, all-pairs)
    val hotUncapped = uncapped.count { case (a, b) =>
      a % 10 == 0 && b % 10 == 0 && a < 300 && b < 300 }
    assert(hotUncapped == 190, s"expected 190 boilerplate pairs: $hotUncapped")
    // the cap removes every boilerplate-only pair ...
    val hotCapped = capped.keySet.count { case (a, b) =>
      a % 10 == 0 && b % 10 == 0 && a < 300 && b < 300 }
    assert(hotCapped == 0, s"cap left $hotCapped boilerplate pairs")
    // ... keeps clone pairs exact over the filtered universe ...
    assert(capped.get((1L, 301L)).contains(1.0))
    assert(capped.get((3L, 303L)).contains(1.0))
    // ... and the total output is exactly the clone pairs (vocabularies
    // are otherwise disjoint)
    assert(capped.keySet == Set((1L, 301L), (3L, 303L)),
      s"unexpected capped pairs: ${capped.keySet}")
  }

  test("brute-force topk is self-consistent and lsh is a subset") {
    val emb = (0L until 50L).map { i =>
      val v = (0 until 8).map(j => math.sin(i * 31 + j * 7).toFloat).toArray
      (i, v)
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val bf = SimilarityOps.bruteForceTopK(queries, emb, 5)
    val rows = bf.collect()
    assert(rows.length == 15)
    // scores sorted descending within each query
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val scores = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    val lsh = SimilarityOps.lshTopK(queries, emb, 5, 3).collect()
    val bfPairs = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // every lsh hit scores no better than the true top-1
    val bfTop = rows.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getDouble(2)).toMap
    lsh.foreach(r => assert(r.getDouble(2) <= bfTop(r.getLong(0)) + 1e-12))
  }

  test("quality score stays in [0,1]") {
    val d = Seq((1L, "the quick brown fox and the lazy dog of the hill", 49L))
      .toDF("doc_id", "text", "n_chars")
    val r = d.select(
      TextStatsOps.qualityScore(col("text"), col("n_chars")).as("q"))
      .collect().head
    assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
  }

  test("gopherRepetitionKept: keep semantics right; the keep filter " +
      "sits on the kernel output, no HOF trees and no barrier shuffle") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda omicron sigma upsilon omega nu xi rho tau phi chi psi " +
        "one two three four five six seven eight nine ten eleven twelve " +
        "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
      (2L, "same line\nsame line\nsame line\nsame line\nsame line"))
      .toDF("doc_id", "text")
    val kept = TextStatsOps.gopherRepetitionKept(docs, "doc_id", "text")
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(kept.columns.toSeq == Seq("doc_id", "text"))
    // the gate is one row-local udf filter over the input — NO
    // exchange, no aggregation barrier, no semi-join and no HOF trees
    // (the >800s pushdown pathology documented on
    // ReferenceTiers.gopherRepetitionExpr is structurally impossible
    // here)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("dup_"), plan.take(3000))
  }

  test("BoundedMinList: buffer caps at n through reduce and merge, " +
      "stays sorted, rejects above-max fast") {
    val agg = new graft.functions.BoundedMinList(3)
    val b = Seq(5L, 1L, 9L, 1L, 7L, 0L).foldLeft(agg.zero)(agg.reduce)
    assert(b.toSeq == Seq(0L, 1L, 1L))
    val m = agg.merge(
      Seq(2L, 4L, 8L).toArray, Seq(1L, 3L, 9L).toArray)
    assert(m.toSeq == Seq(1L, 2L, 3L))
    assert(agg.merge(agg.zero, Seq(7L).toArray).toSeq == Seq(7L))
    assert(agg.reduce(Seq(1L, 2L, 3L).toArray, 99L).toSeq == Seq(1L, 2L, 3L))
  }

  test("headPerKey/nthPerKey: equal to the window definition on a " +
      "hot-key frame; no Window in the plan") {
    import graft.operators.GroupOps
    import org.apache.spark.sql.expressions.Window
    // 50% of rows on one hot key, ids unique
    val df = (0L until 2000L).map(i =>
      (if (i % 2 == 0) 0L else i % 7, i, s"p$i"))
      .toDF("key", "id", "payload")
    val head = GroupOps.headPerKey(df, Seq("key"), "id", 4)
    val w = Window.partitionBy(col("key")).orderBy(col("id"))
    val expect = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 4).drop("__rn")
    assert(head.exceptAll(expect).count() == 0 &&
      expect.exceptAll(head).count() == 0)
    val nth = GroupOps.nthPerKey(df, Seq("key"), "id", 2)
    val expectNth = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 3).drop("__rn")
    assert(nth.exceptAll(expectNth).count() == 0 &&
      expectNth.exceptAll(nth).count() == 0)
    // the scale claim: the operator's own plan must not contain a
    // window — the bounded aggregate partial-aggregates hot keys
    assert(!head.queryExecution.executedPlan.toString.contains("Window"))
    // null order values cannot rank: the row is excluded, not crashed on
    val withNull = df.unionAll(Seq((0L, null.asInstanceOf[java.lang.Long],
      "pnull")).toDF("key", "id", "payload"))
    val headN = GroupOps.headPerKey(withNull, Seq("key"), "id", 4)
    assert(headN.filter(col("payload") === "pnull").count() == 0)
    assert(headN.exceptAll(expect).count() == 0)
    // non-integral order columns fail fast, not silently over-return
    val e = intercept[IllegalArgumentException] {
      GroupOps.headPerKey(df.withColumn("d", col("id") / 2.0),
        Seq("key"), "d", 4)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("hashedClassifierLogit: matches an independent JDK-MD5 replay " +
      "of the feature hash and weight formula") {
    val w = TextStatsOps.demoClassifierWeights(64)
    def expectedLogit(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      text.split("\\s+").filter(_.nonEmpty).map { word =>
        val hex = md.digest(word.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(8)
        w((java.lang.Long.parseLong(hex, 16) % 64).toInt)
      }.sum
    }
    val texts = Seq("the quick brown fox", "a", "", "der große Bär läuft")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        TextStatsOps.hashedClassifierLogit(col("text"), w).as("l"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == expectedLogit(t), s"'$t'")
    }
  }

  test("semanticDedup: scaled clone drops, orthogonal same-bucket and " +
      "other-bucket vectors survive") {
    import graft.llm.SimilarityOps
    val vecs = Seq(
      (0L, Array(1.0, 0.0)),   // representative
      (1L, Array(2.0, 0.0)),   // scaled clone: same bucket, cosine 1 → drops
      (2L, Array(0.0, 1.0)),   // same sign bucket, cosine 0 → survives
      (3L, Array(-1.0, 0.1))). // different bucket → survives
      toDF("vec_id", "embedding")
    val kept = SimilarityOps.semanticDedup(vecs, "vec_id",
      bits = 2, minCosine = 0.9)
    assert(kept.select("vec_id").as[Long].collect().toSet == Set(0L, 2L, 3L))
  }

  test("bpeTokenCount: known word→count vectors; backward-feeding merge " +
      "pins the fixpoint loop against rank-order-once") {
    val cases = Seq(
      // (th,e) outranks (t,h): only a re-scan after t+h finds it —
      // rank-order-once would leave "the" at 2 tokens, the loop gets 1
      ("the", 1L),
      ("thing", 2L),   // th | ing (t+h, i+n, in+g)
      ("and", 1L),     // a+n then an+d
      ("another", 4L), // an | o | th | er
      ("xthe", 2L),    // x | the
      ("zzz", 3L),     // no rule applies
      ("a", 1L),
      ("the thing and another", 8L), // per-word counts sum
      ("", 0L))        // no words at all
    val df = cases.zipWithIndex.map { case ((w, want), i) =>
      (i.toLong, w, want) }.toDF("id", "text", "want")
    df.select(col("text"), col("want"),
        TextStatsOps.bpeTokenCount(col("text")).as("got"))
      .collect().foreach { r =>
        assert(r.getLong(2) == r.getLong(1),
          s"'${r.getString(0)}' -> ${r.getLong(2)}, want ${r.getLong(1)}")
      }
  }

  test("bpeEncodeTokens: known token-id sequences, positions, and " +
      "vocabulary closure") {
    import spark.implicits._
    // "the thing zzz": the→[256]; thing→[th=257, ing=269]; zzz→[z,z,z]
    val df = Seq((1L, "the thing zzz"), (2L, "")).toDF("id", "text")
    val got = TextStatsOps.bpeEncodeTokens(df, "id", "text")
      .orderBy("id", "word_idx", "sym_idx")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getInt(4)))
    val z = 'z'.toInt
    assert(got.toSeq == Seq(
      (1L, 0, 0, "the", 256),
      (1L, 1, 0, "th", 257), (1L, 1, 1, "ing", 269),
      (1L, 2, 0, "z", z), (1L, 2, 1, "z", z), (1L, 2, 2, "z", z)),
      got.mkString(";"))
    // vocabulary closure: every multi-char symbol the encoder can emit
    // is a merge result, so no null token_id is reachable
    val vocab = TextStatsOps.bpeVocab()
    assert(vocab.values.toSeq.distinct.size == vocab.size)
    assert(vocab.keys.forall(_.length > 1))
    // count and encode agree: size of the encoding == bpeTokenCount
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    val enc = TextStatsOps.bpeEncodeTokens(docs, "doc_id", "text")
      .groupBy("doc_id").count()
    val cnt = docs.select(col("doc_id"),
      TextStatsOps.bpeTokenCount(col("text")).as("n"))
    assert(enc.join(cnt, "doc_id")
      .filter(col("count") =!= col("n")).count() == 0)
  }

  test("crossCorpusNearDups: cross clone pairs found, internal pairs " +
      "excluded, ids decode to their original spaces") {
    import spark.implicits._
    val tA = "alpha beta gamma delta epsilon zeta eta theta"
    val tB = "one two three four five six seven eight nine ten"
    val corpus = Seq((1L, tA), (2L, tB), (3L, tA)).toDF("id", "text")
    val probes = Seq((7L, tA), (8L, "unrelated words entirely here now"))
      .toDF("id", "text")
    val got = graft.llm.TextDedupOps.crossCorpusNearDups(
      corpus, probes, "id", "text", shingleN = 3, k = 32, bands = 8,
      threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // both corpus clones of tA pair with probe 7 at est 1.0
    val pairs = got.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 7L)) && pairs.contains((3L, 7L)),
      got.mkString(";"))
    assert(got.filter(t => t._2 == 7L && (t._1 == 1L || t._1 == 3L))
      .forall(_._3 == 1.0))
    // the corpus-internal clone pair (1,3) must NOT appear, and every
    // row decodes to (corpus id, probe id)
    assert(got.forall(t => Set(1L, 2L, 3L)(t._1) && Set(7L, 8L)(t._2)),
      got.mkString(";"))
  }

  test("dedupIncremental: batch-internal keep-first plus index anti-join") {
    import spark.implicits._
    val old = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("id", "text")
    val batch = Seq(
      (10L, "Alpha  BETA!"), // normalizes to an old text -> vanishes
      (11L, "delta"),        // genuinely new -> survives
      (13L, "delta"),        // within-batch clone, higher id -> vanishes
      (12L, "epsilon"),      // new -> survives
      (14L, "GAMMA"),        // old after casefold -> vanishes
      (15L, "")).toDF("id", "text") // empty: new (old has no empty)
    val got = graft.llm.TextDedupOps
      .dedupIncremental(batch, old, "id", "text")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(11L, 12L, 15L), got.mkString(","))
    // idempotence: re-ingesting the surviving batch against old+batch
    // yields nothing
    val merged = old.unionByName(
      batch.filter(col("id").isin(11L, 12L, 15L)))
    assert(graft.llm.TextDedupOps
      .dedupIncremental(batch, merged, "id", "text").count() == 0)
    // NULL text is one content value in BOTH stages: two null-text
    // batch rows collapse to the first, and a null-text corpus row
    // kills that survivor too (null-safe anti join)
    val oldN = Seq((1L, Option("x")), (2L, None: Option[String]))
      .toDF("id", "text")
    val batchN = Seq((10L, None: Option[String]),
      (11L, None: Option[String]), (12L, Option("y"))).toDF("id", "text")
    val gotN = graft.llm.TextDedupOps
      .dedupIncremental(batchN, oldN, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(gotN == Seq(12L), gotN.mkString(","))
    // and with no null in the corpus, exactly one null-text row survives
    val gotN2 = graft.llm.TextDedupOps
      .dedupIncremental(batchN, oldN.filter(col("id") === 1), "id", "text")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotN2 == Seq(10L, 12L), gotN2.mkString(","))
  }

  test("meanPoolChunks: bit-identical under shuffled input order, " +
      "known means, and the chunk-cap guard") {
    import graft.llm.SimilarityOps
    import spark.implicits._
    val chunks = Seq(
      (1L, 0L, Seq(1.0, 2.0)), (1L, 1L, Seq(3.0, 4.0)),
      (1L, 2L, Seq(5.0, 6.0)), (2L, 0L, Seq(10.0, -10.0)))
      .toDF("doc", "cid", "emb")
    val a = SimilarityOps.meanPoolChunks(chunks, "doc", "cid", "emb")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Double](2))).toMap
    assert(a(1L) == ((3L, Seq(3.0, 4.0))))
    assert(a(2L) == ((1L, Seq(10.0, -10.0))))
    // partitioning/arrival order cannot move the fold: bit-identical
    // on a shuffled, repartitioned twin
    val b = SimilarityOps.meanPoolChunks(
      chunks.orderBy(col("cid").desc).repartition(7), "doc", "cid", "emb")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Double](2))).toMap
    assert(a == b)
    val e = intercept[Exception] {
      SimilarityOps.meanPoolChunks(chunks, "doc", "cid", "emb",
        maxChunks = 2).collect()
    }
    assert(e.getMessage.contains("more than 2 chunks"), e.getMessage)
  }

  test("writeTrainingShards refuses to clobber an existing shard column") {
    import spark.implicits._
    val df = Seq((1L, 3L)).toDF("id", "shard")
    val e = intercept[IllegalArgumentException] {
      graft.operators.SampleOps.writeTrainingShards(df, "id",
        s"${sys.props("java.io.tmpdir")}/graft-shard-clash", 4)
    }
    assert(e.getMessage.contains("shard"))
  }

  test("langId: profiles are well-formed (alphabetical, 12+ languages, " +
      "trigram-clean)") {
    val codes = TextStatsOps.LangCodes
    assert(codes.size >= 10, s"need >=10 languages, got ${codes.size}")
    assert(codes == codes.sorted, "profiles must be alphabetical (the " +
      "argmax tiebreak order on both engine sides)")
    assert(codes.distinct == codes)
    TextStatsOps.LangProfiles.foreach { case (l, tris) =>
      assert(tris.forall(_.length == 3), s"$l has a non-trigram entry")
      assert(tris.distinct == tris, s"$l has duplicate trigrams (the " +
        "oracle VALUES join would double-count what the map lookup sees once)")
    }
  }

  test("langId: every planted sample sentence classifies to its true " +
      "language; gibberish is und") {
    val samples = graft.queries.LlmQueries.LangSamples
    assert(samples.map(_._1) == TextStatsOps.LangCodes)
    val df = samples.zipWithIndex
      .map { case ((lang, s), i) => (i.toLong, lang, s) }
      .toDF("doc_id", "expect", "text")
    val got = TextStatsOps.langId(df, "doc_id", "text")
      .join(df.select("doc_id", "expect"), Seq("doc_id"))
      .select("expect", "lang", "lang_score").collect()
    got.foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"sample for ${r.getString(0)} classified as ${r.getString(1)} " +
          s"(score ${r.getLong(2)})")
    }
    val und = TextStatsOps.langId(
      Seq((1L, "zzqx vvkw jjpy xxbb")).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(und.getString(1) == "und" && und.getLong(2) == 0L)
    // NULL text classifies 'und' like empty text — never a NULL lang
    val nul = TextStatsOps.langId(
      Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text").collect().head
    assert(nul.getString(1) == "und" && nul.getLong(2) == 0L)
  }

  test("redactPii: true PII redacts; version strings, decimals and " +
      "out-of-range quads survive; adjacent IPs both redact") {
    val cases = Seq(
      ("mail me at jo.doe+x@site-a.org now", "mail me at <EMAIL> now"),
      ("call 555-0123 or 555.123.4567 today",
        "call <PHONE> or <PHONE> today"),
      ("host 192.168.0.1 responded", "host <IP> responded"),
      ("edge 0.0.0.0 and 255.255.255.255 ok", "edge <IP> and <IP> ok"),
      // boundary-consuming guard + double pass: back-to-back IPs
      ("peers 10.0.0.1 10.0.0.2 10.0.0.3 10.0.0.4 up",
        "peers <IP> <IP> <IP> <IP> up"),
      ("ip at end 8.8.8.8", "ip at end <IP>"),
      // planted FALSE POSITIVES — must survive byte-identical
      ("ver 1.2.3.4.5 shipped", "ver 1.2.3.4.5 shipped"),
      ("build 10.2.3.400 is out", "build 10.2.3.400 is out"),
      ("pi is 1234.5678 exactly", "pi is 1234.5678 exactly"),
      ("sum 123456789 unchanged", "sum 123456789 unchanged"))
    val df = cases.zipWithIndex.map { case ((in, want), i) =>
      (i.toLong, in, want) }.toDF("id", "in", "want")
    df.select(TextStatsOps.redactPii(col("in")).as("got"), col("want"),
        col("in")).collect().foreach { r =>
      assert(r.getString(0) == r.getString(1),
        s"'${r.getString(2)}' -> '${r.getString(0)}', want '${r.getString(1)}'")
    }
  }

  test("multimodal frame sampling and resize keep plumbing exact") {
    import graft.llm.MultimodalOps
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 20)
    val assets = MultimodalOps.fakeAssets(docs, "doc_id", "text")
    val frames = MultimodalOps.sampleFrames(assets, frameBytes = 32, everyNth = 3)
    val rows = frames.collect()
    // every 3rd frame index only, frames at most 32 bytes
    assert(rows.forall(_.getLong(1) % 3 == 0))
    assert(rows.forall(_.getAs[Array[Byte]]("frame").length <= 32))
    // per-asset frame count = ceil(len/32) sampled every 3rd
    val byAsset = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val lens = assets.select(col("asset_id"), octet_length(col("payload")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    lens.foreach { case (id, len) =>
      val n = (len + 31) / 32
      val expect = (0 until n).count(_ % 3 == 0)
      assert(byAsset(id) == expect, s"asset $id: ${byAsset(id)} vs $expect")
    }
    val resized = MultimodalOps.resizeStub(assets, 8, 4)
    val r0 = resized.select(octet_length(col("payload")), col("meta_width"),
      col("meta_height")).collect()
    assert(r0.forall(r => r.getInt(0) <= 32 && r.getInt(1) == 8 && r.getInt(2) == 4))
  }

  test("real ImageIO decode: dims/channels from genuine PNG bytes, " +
      "corrupt payloads surface as data") {
    import graft.llm.MultimodalOps
    import spark.implicits._
    val assets = Seq(
      (1L, MultimodalOps.syntheticPng(17, 9, seed = 1L)),
      (2L, MultimodalOps.syntheticPng(8, 23, seed = 2L)),
      (3L, "not an image".getBytes("UTF-8"))) // no reader accepts this
      .toDF("asset_id", "payload")
    val meta = MultimodalOps.decodeImageMeta(assets).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4))).toMap
    assert(meta(1L) == ((17, 9, 3, "ok")))
    assert(meta(2L) == ((8, 23, 3, "ok")))
    assert(meta(3L) == ((-1, -1, -1, "undecodable")), "corrupt blob must " +
      "become a data row, never an executor throw")

    // real resize: re-encoded PNG decodes to exactly the target dims;
    // undecodable payloads pass through as null, keyed rows preserved
    val rs = MultimodalOps.decodeImageMeta(
      MultimodalOps.resizeImages(assets.filter(col("asset_id") < 3), 5, 4))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(rs == Map(1L -> ((5, 4)), 2L -> ((5, 4))))
    val passthrough = MultimodalOps.resizeImages(assets, 5, 4)
      .filter(col("asset_id") === 3).collect()
    assert(passthrough.length == 1 && passthrough.head.get(1) == null)

    // decoded pixel content survives the codec round trip: PNG is
    // lossless, so re-decoding the fixture reproduces the generator's
    // affine pixel function exactly
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(MultimodalOps.syntheticPng(6, 5, 9L)))
    for (y <- 0 until 5; x <- 0 until 6)
      assert((img.getRGB(x, y) & 0xffffff) == ((x * 31 + y * 17 + 9L) & 0xffffff).toInt)
  }

  test("decodeImageMeta on an externally-produced PNG (not our encoder): " +
      "dims and channel model match the container header") {
    import graft.llm.MultimodalOps
    import spark.implicits._
    // A real-world PNG written by an external tool (600x125 RGBA per
    // its IHDR chunk) — decoding it proves the kernel isn't only
    // round-tripping its own encoder's output.
    val p = java.nio.file.Paths.get("/root/reference/doc/logo/pandas_logo.png")
    assumeFixture(p.toString)
    val bytes = java.nio.file.Files.readAllBytes(p)
    val meta = MultimodalOps.decodeImageMeta(
        Seq((1L, bytes)).toDF("asset_id", "payload")).collect()
    assert(meta.length == 1)
    val r = meta.head
    assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)) ==
      ((600, 125, 4, "ok")), r.toString)
  }

  test("MP4 box-tree parse: brand, exact-micros duration, track census, " +
      "dims, v1 mvhd, and corrupt payloads as data") {
    import graft.llm.MultimodalOps
    import spark.implicits._
    val av = MultimodalOps.syntheticMp4("isom", timescale = 1000,
      duration = 5000, tracks = Seq(("vide", 640, 360), ("soun", 0, 0)))
    // v1 mvhd (64-bit times), odd timescale -> floor micros
    val v1 = MultimodalOps.syntheticMp4("mp42", timescale = 90000,
      duration = 123457, tracks = Seq(("vide", 1920, 1080)), mvhdV1 = true)
    val assets = Seq((1L, av), (2L, v1),
      (3L, "not a video".getBytes("UTF-8"))).toDF("asset_id", "payload")
    val meta = MultimodalOps.decodeVideoMeta(assets).collect()
      .map(m => m.asset_id -> m).toMap
    val m1 = meta(1L)
    assert((m1.brand, m1.timescale, m1.duration_us, m1.n_tracks,
      m1.video_tracks, m1.audio_tracks, m1.width, m1.height, m1.format) ==
      (("isom", 1000L, 5000000L, 2L, 1L, 1L, 640, 360, "ok")), m1.toString)
    val m2 = meta(2L)
    assert((m2.brand, m2.duration_us, m2.width, m2.height) ==
      (("mp42", 123457L * 1000000L / 90000L, 1920, 1080)), m2.toString)
    assert(meta(3L).format == "undecodable" && meta(3L).n_tracks == -1L)
    // truncated box (size field exceeds payload) must be data, not a throw
    val broken = av.take(40)
    val mb = MultimodalOps.decodeVideoMeta(
      Seq((4L, broken)).toDF("asset_id", "payload")).collect().head
    assert(mb.format == "undecodable")
    // two video tracks: dims come from the FIRST nonzero pair — never
    // independent maxima (which would report a phantom resolution)
    val two = MultimodalOps.syntheticMp4("isom", 1000, 100,
      Seq(("vide", 640, 360), ("vide", 320, 480)))
    val mt = MultimodalOps.decodeVideoMeta(
      Seq((5L, two)).toDF("asset_id", "payload")).collect().head
    assert((mt.width, mt.height, mt.video_tracks) == ((640, 360, 2L)),
      mt.toString)
  }

  test("sampleVideoFrames: exact sample bytes recovered via the real " +
      "stsz/stco tables; metadata parse coexists with mdat") {
    import graft.llm.MultimodalOps
    import spark.implicits._
    val samples = Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5),
      Array[Byte](6, 7, 8, 9), Array[Byte](10), Array[Byte](11, 12))
    val mp4 = MultimodalOps.syntheticMp4("isom", 1000, 5,
      Seq(("vide", 64, 48), ("soun", 0, 0)), videoSamples = samples)
    val assets = Seq((1L, mp4), (2L, "junk".getBytes("UTF-8")))
      .toDF("asset_id", "payload")
    val got = MultimodalOps.sampleVideoFrames(assets, everyNth = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[Array[Byte]]("frame")).map(_.toSeq)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 0L, Some(Seq[Byte](1, 2, 3))),
      (1L, 2L, Some(Seq[Byte](6, 7, 8, 9))),
      (1L, 4L, Some(Seq[Byte](11, 12))),
      (2L, -1L, None)), got.mkString(";"))
    // the metadata walk still parses the same payload (skipping mdat)
    val m = MultimodalOps.decodeVideoMeta(
      assets.filter(col("asset_id") === 1)).collect().head
    assert((m.format, m.video_tracks, m.width) == (("ok", 1L, 64)))
    // hostile stsz sample_count (0x40000000 in a tiny payload) must be
    // rejected as data BEFORE any allocation — an OOM would be an
    // Error the catch-to-None path could not absorb
    val hostile = mp4.clone()
    val stszAt = hostile.indices.find(i => i + 4 <= hostile.length &&
      new String(hostile, i, 4, "ISO-8859-1") == "stsz").get
    val countAt = stszAt + 4 + 8 // past type, verflags, uniform-size
    hostile(countAt) = 0x40.toByte
    hostile(countAt + 1) = 0; hostile(countAt + 2) = 0
    hostile(countAt + 3) = 0
    val hb = MultimodalOps.sampleVideoFrames(
      Seq((6L, hostile)).toDF("asset_id", "payload"), 2).collect()
    assert(hb.length == 1 && hb.head.getLong(1) == -1L, hb.mkString(";"))
  }

  test("real WAV decode: format/stats from genuine AudioSystem bytes, " +
      "stereo, decimation, and corrupt payloads as data") {
    import graft.llm.MultimodalOps
    import spark.implicits._
    // mono fixture: closed-form samples cross the real WAVE writer+reader
    val mono = MultimodalOps.syntheticWav(nFrames = 60, sampleRate = 8000,
      seed = 7L)
    // stereo: interleaved L/R frames, explicit samples
    val st = MultimodalOps.encodeWavPcm16(
      Array[Short](100, -200, 300, -400, 500, -600), 16000, channels = 2)
    val assets = Seq(
      (1L, mono), (2L, st),
      (3L, "not audio".getBytes("UTF-8"))).toDF("asset_id", "payload")
    val meta = MultimodalOps.decodeAudioMeta(assets).collect()
      .map(m => m.asset_id -> m).toMap
    val m1 = meta(1L)
    assert((m1.sample_rate, m1.channels, m1.bits, m1.n_frames,
      m1.duration_us, m1.format) == ((8000L, 1L, 16L, 60L, 7500L, "ok")))
    val ref = (0 until 60).map(i => MultimodalOps.syntheticWavSample(7L, i).toLong)
    assert(m1.peak_abs == ref.map(math.abs).max)
    assert(m1.sum_sq == ref.map(v => v * v).sum)
    val m2 = meta(2L)
    assert((m2.sample_rate, m2.channels, m2.n_frames) == ((16000L, 2L, 3L)))
    assert(m2.peak_abs == 600L)
    assert(m2.sum_sq == Seq(100L, 200, 300, 400, 500, 600).map(v => v * v).sum)
    assert(meta(3L).format == "undecodable" && meta(3L).n_frames == -1L,
      "corrupt blob must become a data row, never an executor throw")
    // a crafted fmt chunk with sampleRate=0 is ACCEPTED by the JDK
    // reader — the kernel must reject it as data, not divide by zero
    val zeroRate = mono.clone()
    for (i <- 24 until 28) zeroRate(i) = 0 // RIFF fmt dwSamplesPerSec
    val zr = MultimodalOps.decodeAudioMeta(
      Seq((9L, zeroRate)).toDF("asset_id", "payload")).collect().head
    assert(zr.format == "undecodable", zr.toString)

    // decimation: every 3rd frame survives (BOTH channels of it), rate
    // divides, and the re-encoded bytes decode through the real reader
    val dec = MultimodalOps.decodeAudioMeta(
        MultimodalOps.decimateAudio(assets.filter(col("asset_id") < 3), 3))
      .collect().map(m => m.asset_id -> m).toMap
    val d1 = dec(1L)
    assert((d1.sample_rate, d1.n_frames) == ((2666L, 20L)))
    val keptRef = (0 until 60).filter(_ % 3 == 0)
      .map(i => MultimodalOps.syntheticWavSample(7L, i).toLong)
    assert(d1.sum_sq == keptRef.map(v => v * v).sum)
    val d2 = dec(2L)
    assert((d2.channels, d2.n_frames) == ((2L, 1L)))
    assert(d2.sum_sq == 100L * 100 + 200L * 200, "frame 0 = both channels")
    val pass = MultimodalOps.decimateAudio(assets, 3)
      .filter(col("asset_id") === 3).collect()
    assert(pass.length == 1 && pass.head.get(1) == null)
  }

  test("normalizeUrl: scheme/host case, ports, userinfo, fragments, " +
      "tracking params, and unparseable inputs") {
    import graft.llm.UrlOps
    import spark.implicits._
    val cases = Seq(
      // lowercase scheme+host, default port dropped, fragment dropped,
      // utm stripped, real param kept
      ("HTTP://Example.COM:80/a/b?utm_source=x&id=7#frag",
       "http://example.com/a/b?id=7"),
      // https default port; gclid-only query empties; path kept
      ("https://Site.Example.com:443/p?gclid=abc",
       "https://site.example.com/p"),
      // custom port survives
      ("https://example.com:8443/p?x=1", "https://example.com:8443/p?x=1"),
      // empty path -> "/"
      ("https://EXAMPLE.com", "https://example.com/"),
      // param order preserved; utm_medium dropped mid-list
      ("http://example.com/path/?q=1&utm_medium=email&r=2",
       "http://example.com/path/?q=1&r=2"),
      // fbclid dropped, bare-key param kept, valueless tracking dropped
      ("http://example.com/x?fbclid=9&flag&utm_campaign",
       "http://example.com/x?flag"),
      // fragment before query-looking text: all fragment
      ("http://example.com/p#sec?notquery", "http://example.com/p"),
      // userinfo dropped
      ("http://user:pw@Example.com/private", "http://example.com/private"),
      // a param whose key merely CONTAINS utm stays
      ("http://example.com/?autm_x=1&myutm=2",
       "http://example.com/?autm_x=1&myutm=2"),
      // whitespace trimmed
      ("  https://example.com/ok  ", "https://example.com/ok"),
      // unparseable: no scheme
      ("example.com/no-scheme", null),
      ("not a url at all", null))
    val got = cases.zipWithIndex.map { case ((in, _), i) => (i, in) }
      .toDF("i", "url")
      .select(col("i"), UrlOps.normalizeUrl(col("url")).as("norm"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i) == want, s"'$in' -> '${got(i)}', want '$want'")
    }
    // idempotence: a canonical URL re-normalizes to itself (the dedup
    // key property — without it, mixing already-canonical and raw URLs
    // in one corpus would split groups)
    val again = cases.map(_._2).filter(_ != null).zipWithIndex
      .map { case (u, i) => (i, u) }.toDF("i", "url")
      .select(col("i"), UrlOps.normalizeUrl(col("url")).as("n2"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.map(_._2).filter(_ != null).zipWithIndex.foreach { case (u, i) =>
      assert(again(i) == u, s"not idempotent: '$u' -> '${again(i)}'")
    }
  }

  test("chunkWords: coverage, overlap, and short-doc degenerate cases") {
    import spark.implicits._
    val words120 = (1 to 120).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words120), (2L, "just three words"), (3L, "")).toDF("doc_id", "text")
    val chunks = graft.llm.TextStatsOps.chunkWords(df, "doc_id", "text", 50, 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byDoc = chunks.groupBy(_._1)
    // 120 words, step 40: ceil(110/40) = 3 chunks; consecutive chunks
    // share exactly the 10-word overlap
    assert(byDoc(1L).length == 3)
    val c0 = byDoc(1L).find(_._2 == 0).get._3.split(" ")
    val c1 = byDoc(1L).find(_._2 == 1).get._3.split(" ")
    assert(c0.length == 50 && c1.length == 50)
    assert(c0.takeRight(10).toSeq == c1.take(10).toSeq, "overlap mismatch")
    // short and empty docs degrade to a single chunk
    assert(byDoc(2L).length == 1 && byDoc(2L).head._3 == "just three words")
    assert(byDoc(3L).length == 1)
  }

  test("contaminationScore: clone of a benchmark doc scores 1.0, fresh text 0.0") {
    import spark.implicits._
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // clone
      (11L, "completely unrelated content with zero shared phrases here"))
      .toDF("doc_id", "text")
    val got = TextDedupOps.contaminationScore(corpus, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(10L) == 1.0, s"clone: ${got(10L)}")
    assert(got(11L) == 0.0, s"fresh: ${got(11L)}")
  }

  test("connectedComponents: path, triangle, pair — min label per component") {
    import spark.implicits._
    // path 1-2-3-4-5 (diameter 4 forces multiple propagation rounds),
    // triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L))
      .toDF("id_a", "id_b")
    val got = TextDedupOps.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want, s"$got")
  }

  test("connectedComponents: checkpointEvery yields identical labels") {
    import spark.implicits._
    // path 0-1-...-5: enough propagation rounds that the checkpoint
    // branch fires more than once at checkpointEvery = 2. (Kept at
    // diameter 5: the UNcheckpointed comparison run doubles its logical
    // plan every round — the very pathology the knob removes — so a
    // much longer path makes the plain baseline itself intractable.)
    val pairs = (0L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val plain = TextDedupOps.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ckpt = TextDedupOps
      .connectedComponents(pairs, "id_a", "id_b", checkpointEvery = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == ckpt, s"$plain vs $ckpt")
    assert(ckpt.values.toSet == Set(0L))

    // reliable (HDFS-shaped) checkpointing: same labels, and the
    // missing-checkpoint-dir misconfiguration fails loudly up front
    intercept[IllegalArgumentException] {
      TextDedupOps.connectedComponents(pairs, "id_a", "id_b",
        checkpointEvery = 2, reliable = true)
    }
    val ckDir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      val rel = TextDedupOps.connectedComponents(pairs, "id_a", "id_b",
        checkpointEvery = 2, reliable = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(plain == rel, s"$plain vs $rel")
    } finally {
      // other suites share the session; don't leave a checkpoint dir set
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("connectedComponents: collectBelow fast path matches the " +
      "distributed loop; one pair past the cap falls back correctly") {
    import spark.implicits._
    // a messy graph: long path, triangle, star, isolated pair,
    // duplicate + reversed edges
    val pairs = (Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L),
      (30L, 31L), (30L, 32L), (30L, 33L), (31L, 30L), (2L, 3L)))
      .toDF("id_a", "id_b")
    val dist = TextDedupOps.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = TextDedupOps.connectedComponents(pairs, "id_a", "id_b",
        collectBelow = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist, s"$local vs $dist")
    // cap below the pair count: must FALL BACK to the distributed loop
    // and still produce identical labels
    val fallback = TextDedupOps.connectedComponents(pairs, "id_a", "id_b",
        collectBelow = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fallback == dist, s"$fallback vs $dist")
  }

  test("lshIncrementalIndexed: the pre-banded persisted index replays " +
      "the in-memory incremental contract and the one-shot twin") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-lsh-index-${ProcessHandle.current().pid()}").toString
    // planted corpus: every 4th doc copies doc-2's text (the witness
    // shape); waves split at id 60
    val wl = (0 until 19).map(i => s"w${(i * 7 + 3) % 19}")
    def text(i: Long): String =
      (0 until 12).map(j => wl(((i * 13 + j * 5 + 1) % 19).toInt))
        .mkString(" ")
    val rows = (0L until 120L).map { i =>
      val src = if (i % 4 == 0 && i >= 2) i - 2 else i
      (i, text(src))
    }
    val all = rows.toDF("doc_id", "text")
    val w1 = all.filter(col("doc_id") < 60)
    val w2 = all.filter(col("doc_id") >= 60)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // initialize an EMPTY index, ingest wave 1
    val empty = TextDedupOps.minHashSignatures(
      all.limit(0), "doc_id", "text", 3, 32)
    TextDedupOps.writeLshIndex(empty, dir, "doc_id", bands = 8)
    val (s1, g1) = TextDedupOps.lshIncrementalIndexed(w1, dir,
      "doc_id", "text", threshold = 0.99)
    val (s1m, _) = TextDedupOps.lshIncrementalWithSignatures(w1, empty,
      "doc_id", "text", threshold = 0.99)
    assert(ids(s1) === ids(s1m), "wave 1 diverged from the memory tier")
    TextDedupOps.writeLshIndex(g1, dir, "doc_id", bands = 8,
      mode = "append")
    // wave 2: indexed vs memory tier fed the SAME persisted sigs
    val (s2, g2) = TextDedupOps.lshIncrementalIndexed(w2, dir,
      "doc_id", "text", threshold = 0.99)
    val (s2m, _) = TextDedupOps.lshIncrementalWithSignatures(w2,
      spark.read.parquet(s"$dir/sigs"), "doc_id", "text",
      threshold = 0.99)
    assert(ids(s2) === ids(s2m), "wave 2 diverged from the memory tier")
    // end-to-end: two-wave replay equals the one-shot run
    val oneShot = TextDedupOps.lshIncremental(all, empty,
      "doc_id", "text", threshold = 0.99)
    assert((ids(s1) ++ ids(s2)) === ids(oneShot),
      "incremental-indexed replay diverged from one-shot")
    // survivor sigs reassemble: index now covers every survivor
    TextDedupOps.writeLshIndex(g2, dir, "doc_id", bands = 8,
      mode = "append")
    assert(ids(spark.read.parquet(s"$dir/sigs")) === ids(oneShot))
    // LSH-parameter drift against the recorded meta fails LOUDLY —
    // a silent mismatch would band into foreign buckets and MISS dups
    intercept[IllegalArgumentException] {
      TextDedupOps.lshIncrementalIndexed(w2, dir, "doc_id", "text",
        bands = 4, threshold = 0.99)
    }
    intercept[IllegalArgumentException] {
      TextDedupOps.lshIncrementalIndexed(w2, dir, "doc_id", "text",
        shingleN = 5, threshold = 0.99)
    }
    intercept[IllegalArgumentException] {
      TextDedupOps.writeLshIndex(g2, dir, "doc_id", bands = 16,
        mode = "append")
    }
    // bands persist PARTITIONED BY band: each band is its own
    // directory, and a band filter pushes as a PartitionFilter that
    // prunes the scan's file set to that directory — the layout a
    // band-parallel compactor or a partial re-banding maintains
    val bandDirs = new java.io.File(s"$dir/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(bandDirs === (0 until 8).map(b => s"band=$b").toSet, bandDirs)
    val oneBand = spark.read.parquet(s"$dir/bands")
      .filter(col("band") === 3)
    val scan = oneBand.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      "PartitionFilters:[^\\]]*band#\\d+ = 3".r.findFirstIn(
        scan.replaceAll("\\s+", " ")).isDefined,
      s"band filter did not push as a PartitionFilter:\n$scan")
    // row-level proof the pruned scan equals the band directory itself
    // (inputFiles lists the unpruned FileIndex, so compare contents)
    val direct = spark.read.parquet(s"$dir/bands/band=3")
    assert(oneBand.count() === direct.count() && oneBand.count() > 0)
    // a clean index reconciles to (0, 0, 0)
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
    // a crashed append (bands committed, sigs not — the safe orphan
    // order) is DETECTED: simulate by appending one doc's band rows
    // under a fresh id with no matching sigs row
    val dir2 = dir + "-crashed"
    TextDedupOps.writeLshIndex(spark.read.parquet(s"$dir/sigs"), dir2,
      "doc_id", bands = 8)
    spark.read.parquet(s"$dir2/bands")
      .filter(col("doc_id") === 0)
      .select(lit(900001L).as("doc_id"), col("band_hash"), col("band"))
      .write.mode("append").partitionBy("band").parquet(s"$dir2/bands")
    val (bandsOnly, sigsOnly, dup) =
      TextDedupOps.lshIndexOrphans(spark, dir2)
    assert(bandsOnly === 1L && sigsOnly === 0L && dup === 0L,
      s"($bandsOnly, $sigsOnly, $dup)")
  }

  test("writeLshIndex: INT-typed caller ids persist as long and the " +
      "indexed read replays the long-id index exactly") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-lsh-intid-${ProcessHandle.current().pid()}").toString
    val docs = (0 until 40).map(i =>
      (i, s"t${i % 5} u${(i * 3) % 7} v${(i * 5) % 11} w$i x y z a b c d e"))
      .toDF("doc_id", "text") // doc_id is INT here
    val sigsInt = TextDedupOps.minHashSignatures(
      docs.filter(col("doc_id") < 20), "doc_id", "text", 3, 32)
    TextDedupOps.writeLshIndex(sigsInt, dir, "doc_id", bands = 8)
    // readable: schema-pinned long read + an ingest against it works
    val batch = docs.filter(col("doc_id") >= 20)
    val (surv, _) = TextDedupOps.lshIncrementalIndexed(batch, dir,
      "doc_id", "text", threshold = 0.99)
    assert(surv.count() === 20) // no clones planted: all survive
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
  }

  test("LSH index deletes: tombstones filter reads and reconciliation, " +
      "vacuum rewrites physically, a crashed vacuum re-runs to done") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-lsh-del-${ProcessHandle.current().pid()}").toString
    val docs = (0 until 40).map(i =>
      (i.toLong, s"t${i % 5} u${(i * 3) % 7} v${(i * 5) % 11} w$i x y z a b"))
      .toDF("doc_id", "text")
    TextDedupOps.writeLshIndex(
      TextDedupOps.minHashSignatures(docs, "doc_id", "text", 3, 32),
      dir, "doc_id", bands = 8)
    // delete 0..9: tombstoned, not yet compacted
    TextDedupOps.deleteFromLshIndex(
      spark.range(10).select(col("id").as("doc_id")), dir)
    // a batch cloning doc 3's text must SURVIVE (its twin is deleted);
    // one cloning doc 15's must die
    val batch = docs.filter(col("doc_id").isin(3, 15))
      .select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val (surv, _) = TextDedupOps.lshIncrementalIndexed(batch, dir,
      "doc_id", "text", threshold = 0.99)
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1003L), "tombstoned twin must not match")
    // reconciliation sees the logical state: still clean
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
    // physical rows still present pre-vacuum, gone after
    assert(spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") < 10).count() === 10)
    TextDedupOps.vacuumLshIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") < 10).count() === 0)
    assert(spark.read.parquet(s"$dir/bands")
      .filter(col("doc_id") < 10).count() === 0)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // band-partitioned layout survives the rewrite
    val bandDirs = new java.io.File(s"$dir/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(bandDirs === (0 until 8).map(b => s"band=$b").toSet)
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
    // post-vacuum ingest sees the same survivor verdicts
    val (surv2, _) = TextDedupOps.lshIncrementalIndexed(
      batch.select((col("doc_id") + 1000).as("doc_id"), col("text")),
      dir, "doc_id", "text", threshold = 0.99)
    assert(surv2.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(2003L))
    // CRASHED vacuum (bands swapped, sigs not, tombstones intact):
    // orphan report stays clean (tombstones subtract the sigs-only
    // rows) and re-running the vacuum completes the job
    TextDedupOps.deleteFromLshIndex(
      spark.range(10, 15).select(col("id").as("doc_id")), dir)
    val exBands = spark.read.parquet(s"$dir/bands")
      .filter(col("doc_id") >= 15)
      .select("doc_id", "band_hash", "band").cache()
    exBands.count()
    val bandsDir = new java.io.File(s"$dir/bands")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(bandsDir)
    exBands.write.partitionBy("band").parquet(s"$dir/bands")
    exBands.unpersist()
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)),
      "mid-vacuum state must not report orphans")
    TextDedupOps.vacuumLshIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") < 15).count() === 0)
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
    // vacuum to EMPTY: deleting every id must leave a reconcilable,
    // ingestable index (the bands dir has no data files after the
    // rewrite — every reader pins the schema explicitly)
    TextDedupOps.deleteFromLshIndex(
      spark.range(100).select(col("id").as("doc_id")), dir)
    TextDedupOps.vacuumLshIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/sigs").count() === 0)
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
    val (survEmpty, _) = TextDedupOps.lshIncrementalIndexed(
      docs.filter(col("doc_id") < 5), dir, "doc_id", "text",
      threshold = 0.99)
    assert(survEmpty.count() === 5, "empty index: all batch docs survive")
    // FORMAT guard: a pre-r15 meta (no format column) is rejected
    // with the rebuild remedy, never misread
    val legacyDir = dir + "-legacy"
    TextDedupOps.writeLshIndex(
      TextDedupOps.minHashSignatures(docs, "doc_id", "text", 3, 32),
      legacyDir, "doc_id", bands = 8)
    Seq((8, 3, 32)).toDF("bands", "shingle_n", "k")
      .coalesce(1).write.mode("overwrite").parquet(s"$legacyDir/meta")
    val e = intercept[IllegalArgumentException] {
      TextDedupOps.lshIncrementalIndexed(batch, legacyDir,
        "doc_id", "text", threshold = 0.99)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("LSH vacuum crash recovery: the swap window between rename-aside " +
      "and rename-in leaves NO live layout; a re-run completes the job") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-lsh-crash-${ProcessHandle.current().pid()}").toString
    val docs = (0 until 30).map(i =>
      (i.toLong, s"t${i % 5} u${(i * 3) % 7} v${(i * 5) % 11} w$i x y z a b"))
      .toDF("doc_id", "text")
    TextDedupOps.writeLshIndex(
      TextDedupOps.minHashSignatures(docs, "doc_id", "text", 3, 32),
      dir, "doc_id", bands = 8)
    TextDedupOps.deleteFromLshIndex(
      spark.range(5).select(col("id").as("doc_id")), dir)
    // reconstruct the worst crash state a vacuum can leave (between the
    // rename-aside and the rename-in): the COMPLETE compacted layout
    // sits in `.sigs.compact` and the live sigs directory is GONE
    val compacted = spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") >= 5).cache()
    compacted.count()
    compacted.write.parquet(s"$dir/.sigs.compact")
    compacted.unpersist()
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/sigs"))
    assert(!new java.io.File(s"$dir/sigs").exists())
    // the re-run recovers the pending swap, then completes the vacuum
    TextDedupOps.vacuumLshIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") < 5).count() === 0)
    assert(spark.read.parquet(s"$dir/sigs").count() === 25)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
    // post-recovery ingest serves normally
    val (surv, _) = TextDedupOps.lshIncrementalIndexed(
      docs.filter(col("doc_id").isin(2, 20))
        .select((col("doc_id") + 1000).as("doc_id"), col("text")),
      dir, "doc_id", "text", threshold = 0.99)
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1002L), "vacuumed twin must survive, live twin must die")
  }

  test("compactLshIndex: append-accumulated small files fold back into " +
      "the range layout; answers unchanged; pending tombstones folded") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-lsh-compact-${ProcessHandle.current().pid()}").toString
    def mkDocs(lo: Int, hi: Int) = (lo until hi).map(i =>
      (i.toLong, s"t${i % 5} u${(i * 3) % 7} v${(i * 5) % 11} w$i x y z a b"))
      .toDF("doc_id", "text")
    TextDedupOps.writeLshIndex(
      TextDedupOps.minHashSignatures(mkDocs(0, 20), "doc_id", "text", 3, 32),
      dir, "doc_id", bands = 8)
    // two appends: each adds its own unsorted batch files
    for ((lo, hi) <- Seq((20, 30), (30, 40)))
      TextDedupOps.writeLshIndex(
        TextDedupOps.minHashSignatures(mkDocs(lo, hi), "doc_id", "text",
          3, 32), dir, "doc_id", bands = 8, mode = "append")
    def dataFiles(sub: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/$sub"))
        .count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = dataFiles("bands")
    def probe() = TextDedupOps.lshIncrementalIndexed(
        mkDocs(3, 4).select((col("doc_id") + 1000).as("doc_id"),
          col("text")), dir, "doc_id", "text", threshold = 0.99)
      ._1.count()
    val before = probe()
    // a pending tombstone folds in during compaction
    TextDedupOps.deleteFromLshIndex(
      spark.range(1).select(col("id").as("doc_id")), dir)
    TextDedupOps.compactLshIndex(spark, dir)
    assert(dataFiles("bands") < filesBefore,
      s"compaction did not reduce band files: $filesBefore")
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") === 0).count() === 0, "tombstone not folded")
    assert(probe() === before, "compaction changed survivor verdicts")
    assert(TextDedupOps.lshIndexOrphans(spark, dir) === ((0L, 0L, 0L)))
    // band-partitioned layout intact
    val bandDirs = new java.io.File(s"$dir/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(bandDirs === (0 until 8).map(b => s"band=$b").toSet)
  }

  test("removeDuplicateSpans: shared span removed from both docs, " +
      "unique context kept, spans merge, short docs untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb x y z cc dd"),     // shares "x y z" with doc 2
      (2L, "ee x y z ff"),
      (3L, "pp qq"),                 // shorter than w → untouched
      (4L, "x y z")                  // exactly the span, fully covered
    ).toDF("doc_id", "text")
    val r = TextDedupOps.removeDuplicateSpans(docs, "doc_id", "text", w = 3)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "aa bb cc dd", 2L -> "ee ff", 3L -> "pp qq",
      4L -> ""), r.toString)
  }

  test("removeDuplicateSpans: within-doc repeats alone do not trigger " +
      "(distinct-doc semantics)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z m x y z"),         // repeats internally, unique globally
      (2L, "unrelated words here")
    ).toDF("doc_id", "text")
    val r = TextDedupOps.removeDuplicateSpans(docs, "doc_id", "text", w = 3)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "x y z m x y z", r.toString)
  }

  test("removeDuplicateSpans: fully-duplicated mega-doc collapses to one " +
      "merged run (linear reassembly, not per-position scans)") {
    import spark.implicits._
    // 20k tokens, every window duplicated across both docs: the old
    // per-position exists was O(tokens·dups) ≈ 4e8 comparisons per doc;
    // the run-merge sweep sees ONE covered run and finishes instantly
    val mega = (1 to 20000).map(i => s"t${i % 7}").mkString(" ")
    val docs = Seq((1L, mega), (2L, mega), (3L, "unique little doc here"))
      .toDF("doc_id", "text")
    val r = TextDedupOps.removeDuplicateSpans(docs, "doc_id", "text", w = 50)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "", 2L -> "", 3L -> "unique little doc here"),
      r.view.mapValues(_.take(50)).toMap.toString)
  }

  test("property: removeDuplicateSpans equals the brute-force reference " +
      "on random small-vocab corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // 4-word vocab + short docs ⇒ real cross-doc window collisions
    val vocab = Vector("a", "b", "c", "d")
    val gen: Gen[List[(Long, String)]] = Gen.chooseNum(2, 8).flatMap { n =>
      Gen.listOfN(n, Gen.chooseNum(1, 9).flatMap(m =>
        Gen.listOfN(m, Gen.oneOf(vocab)).map(_.mkString(" "))))
        .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    }
    val w = 3
    (0 until 8).foreach { i =>
      val docs = gen.pureApply(Gen.Parameters.default, Seed(900L + i))
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
      val winDocs = toks.flatMap { case (id, ts) =>
        ts.sliding(w).filter(_.size == w).map(_.mkString(" ") -> id)
      }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      val expected = toks.map { case (id, ts) =>
        val starts =
          if (ts.size >= w)
            (0 to ts.size - w).filter(q =>
              winDocs(ts.slice(q, q + w).mkString(" ")) >= 2)
          else Seq.empty
        val kept = ts.indices
          .filterNot(p => starts.exists(q => q <= p && p <= q + w - 1))
          .map(ts)
        id -> kept.mkString(" ")
      }.toMap
      val got = TextDedupOps
        .removeDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", w)
        .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
      assert(got == expected, s"\ndocs=$docs\n got=$got\n exp=$expected")
    }
  }

  test("gopherQualityFlags: each rule flips independently on a planted " +
      "violator; a clean document passes all") {
    import spark.implicits._
    val good = ((1 to 60).map(i => s"word$i") ++
      Seq("the", "of", "and")).mkString(" ")     // 63 words, stopwords, alpha
    val cases = Seq(
      (0L, good, None),
      (1L, "too short with the and of", Some("ok_words")),
      (2L, ((1 to 60).map(_ => "ab") ++ Seq("the", "of")).mkString(" "),
        Some("ok_word_len")),                    // mean word length 2 < 3
      (3L, good + " " + (1 to 20).map(_ => "x#").mkString(" "),
        Some("ok_symbol_ratio")),                // 20 hashes / 83 words > 0.1
      (4L, (1 to 10).map(i => s"- bullet the of item$i point$i more$i words$i here$i now$i")
        .mkString("\n"), Some("ok_bullets")),    // every line bullet-led
      (5L, (1 to 10).map(i => s"line the of item$i extra$i point$i more$i words$i here$i now$i ...")
        .mkString("\n"), Some("ok_ellipsis")),   // every line ellipsis-ended
      (6L, ((1000 to 1054).map(_.toString) ++ Seq("the", "of", "and")).mkString(" "),
        Some("ok_alpha")),                       // 55/58 words digit-only
      (7L, (1 to 60).map(i => s"word$i").mkString(" "),
        Some("ok_stopwords")))                   // zero Gopher stopwords
    val flags = TextStatsOps.gopherQualityFlags(col("text"))
    val out = cases.map { case (id, t, v) => (id, t) }.toDF("doc_id", "text")
      .select(col("doc_id") +: flags.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        flags.collect { case (n, _) if n.startsWith("ok_") =>
          n -> r.getAs[Boolean](n) }.toMap).toMap
    cases.foreach { case (id, _, violated) =>
      val f = out(id)
      violated match {
        case None => assert(f.values.forall(identity), s"doc $id: $f")
        case Some(rule) =>
          assert(!f(rule), s"doc $id should fail $rule: $f")
          assert((f - rule).values.forall(identity),
            s"doc $id should fail ONLY $rule: $f")
      }
    }
  }

  test("gopherRepetition: line/para duplicate masses, top-n-gram mass " +
      "with deterministic ties, dup-n-gram coverage, short-doc guards") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b\na b\nc d"),                    // repeated line
      (2L, "pp qq\n\npp qq\n\nrr ss"),          // repeated paragraph
      (3L, "v w x y z q1 q2 v w x y z q3"),     // repeated 5-gram, far apart
      (4L, (1 to 60).map(i => s"word$i").mkString(" ")), // clean
      (5L, "tiny doc"),                         // fewer words than most n
      // 5 distinct paragraphs: the 4 blank separator lines must NOT
      // count as duplicate lines (the structure-rejection regression)
      (6L, "alpha one\n\nbeta two\n\ngamma three\n\ndelta four\n\nepsilon five")
    ).toDF("doc_id", "text")
    val out = TextStatsOps.gopherRepetition(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    val d1 = out(1L) // lines [a b, a b, c d]; tlen 11; words [a b a b c d]
    assert(d1.getAs[Double]("dup_line_frac") == 1.0 / 3)
    assert(d1.getAs[Double]("dup_line_cfrac") == 3.0 / 11)
    assert(d1.getAs[Double]("dup_para_frac") == 0.0)
    assert(d1.getAs[Double]("top_2gram_cfrac") == 6.0 / 11)  // "a b" ×2
    assert(d1.getAs[Double]("top_3gram_cfrac") == 5.0 / 11)  // unique, max mass
    assert(d1.getAs[Double]("dup_5gram_cfrac") == 0.0)
    assert(!d1.getAs[Boolean]("ok_dup_line") &&
      !d1.getAs[Boolean]("ok_dup_line_chars") &&
      !d1.getAs[Boolean]("ok_top_2gram") && !d1.getAs[Boolean]("keep"))

    val d2 = out(2L) // paras ×2; nonblank lines [pp qq, pp qq, rr ss]; tlen 19
    assert(d2.getAs[Double]("dup_para_frac") == 1.0 / 3)
    assert(d2.getAs[Double]("dup_para_cfrac") == 5.0 / 19)
    assert(d2.getAs[Double]("dup_line_frac") == 1.0 / 3) // blanks dropped
    assert(d2.getAs[Double]("dup_line_cfrac") == 5.0 / 19)
    assert(!d2.getAs[Boolean]("ok_dup_para") && !d2.getAs[Boolean]("keep"))

    val d3 = out(3L) // "v w x y z" at words 1-5 and 8-12; tlen 28
    assert(d3.getAs[Double]("dup_5gram_cfrac") == 10.0 / 28) // 10 covered 1-char words
    assert(d3.getAs[Double]("dup_6gram_cfrac") == 0.0)       // no repeated 6-gram
    assert(d3.getAs[Double]("top_4gram_cfrac") == 14.0 / 28) // "v w x y" ×2
    assert(d3.getAs[Double]("dup_line_frac") == 0.0)
    assert(!d3.getAs[Boolean]("ok_dup_5gram") && !d3.getAs[Boolean]("keep"))

    val d4 = out(4L)
    val okCols = TextStatsOps.gopherRepetition(docs, "doc_id", "text")
      .columns.filter(c => c.startsWith("ok_") || c == "keep")
    assert(okCols.length == 14)
    okCols.foreach(c => assert(d4.getAs[Boolean](c), s"doc 4 fails $c"))

    val d5 = out(5L) // 2 words: top2 covers the whole text; n>2 all zero
    assert(d5.getAs[Double]("top_2gram_cfrac") == 1.0)
    assert(d5.getAs[Double]("top_3gram_cfrac") == 0.0)
    assert(d5.getAs[Double]("dup_10gram_cfrac") == 0.0)
    assert(!d5.getAs[Boolean]("ok_top_2gram"))

    val d6 = out(6L) // clean multi-paragraph structure survives
    assert(d6.getAs[Double]("dup_line_frac") == 0.0)
    assert(d6.getAs[Double]("dup_para_frac") == 0.0)
    assert(d6.getAs[Boolean]("ok_dup_line") &&
      d6.getAs[Boolean]("ok_dup_line_chars"))
  }

  test("c4Clean: line retention rules, reassembly, sentence proxy, and " +
      "page-level flags") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Keep this line with five words.\nshort one.\n" +
        "This javascript line has enough words here.\n" +
        "no terminal punctuation on this line\n" +
        "Read our privacy policy for more details.\n" +
        "Another kept sentence ends with a bang!\n" +
        "A third kept sentence asks a question?"),
      (2L, "Only two kept sentences survive here.\nAnd this is the second one!"),
      (3L, "Lorem Ipsum dolor sit amet rides along.\n" +
        "Second sentence is fine and long.\nThird sentence closes it out."),
      (4L, "A code block { appears on this page.\n" +
        "Second sentence is fine and long.\nThird sentence closes it out.")
    ).toDF("doc_id", "text")
    val out = TextStatsOps.c4Clean(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    val d1 = out(1L)
    assert(d1.getAs[String]("text_clean") ==
      "Keep this line with five words.\n" +
      "Another kept sentence ends with a bang!\n" +
      "A third kept sentence asks a question?")
    assert(d1.getAs[Long]("n_lines_kept") == 3L)
    assert(d1.getAs[Long]("n_sentences") == 3L)
    assert(d1.getAs[Boolean]("keep"))

    val d2 = out(2L) // only 2 sentences after cleaning
    assert(d2.getAs[Long]("n_sentences") == 2L)
    assert(!d2.getAs[Boolean]("ok_sentences") && !d2.getAs[Boolean]("keep"))

    val d3 = out(3L) // lorem ipsum page-level drop, case-insensitive
    assert(!d3.getAs[Boolean]("ok_lorem") && !d3.getAs[Boolean]("keep"))
    assert(d3.getAs[Boolean]("ok_sentences"))

    val d4 = out(4L) // curly brace page-level drop; brace line also
    assert(!d4.getAs[Boolean]("ok_brace") && !d4.getAs[Boolean]("keep"))
    assert(d4.getAs[Long]("n_lines_kept") == 3L) // brace line ends in '.'
  }

  test("sampleTokenBudget: maximal hash-prefix within budget, " +
      "deterministic, and monotone under corpus growth") {
    import spark.implicits._
    import graft.operators.SampleOps
    val small = (1L to 50L).map(i => (i, 10L)).toDF("doc_id", "n_tok")
    val kept = SampleOps.sampleTokenBudget(small, "doc_id", "n_tok", 200L)
      .collect().map(_.getLong(0)).toSet
    assert(kept.size == 20) // 20 × 10 tokens fill the budget exactly
    val again = SampleOps.sampleTokenBudget(small, "doc_id", "n_tok", 200L)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept) // layout/retry determinism
    // growth: new docs can only push old ones OUT (hash ahead of them),
    // never pull previously-excluded old docs IN
    val grown = (1L to 75L).map(i => (i, 10L)).toDF("doc_id", "n_tok")
    val keptGrown = SampleOps.sampleTokenBudget(grown, "doc_id", "n_tok", 200L)
      .collect().map(_.getLong(0)).toSet
    assert(keptGrown.filter(_ <= 50L).subsetOf(kept),
      s"growth pulled in previously-excluded docs: ${keptGrown.filter(_ <= 50L) -- kept}")
  }

  test("packSequences: exact window tiling — coverage, no overlap, " +
      "full windows, zero-token drop, determinism") {
    import spark.implicits._
    import graft.operators.SampleOps
    val docs = Seq((1L, 5L), (2L, 300L), (3L, 0L), (4L, 128L), (5L, 7L),
      (6L, 129L)).toDF("doc_id", "n_tok")
    val packed = SampleOps.packSequences(docs, "doc_id", "n_tok",
      seqLen = 128L).cache()
    val rows = packed.collect()
    val total = 5L + 300L + 128L + 7L + 129L
    // every token of every non-empty doc lands in exactly one fragment
    assert(rows.map(_.getAs[Long]("frag_len")).sum == total)
    assert(!rows.exists(_.getLong(0) == 3L)) // zero-token doc dropped
    // per-doc fragments tile [0, n_tok) contiguously in seq_id order
    val byDoc = rows.groupBy(_.getLong(0))
    for ((id, frs) <- byDoc) {
      val sorted = frs.sortBy(_.getAs[Long]("seq_id"))
      assert(sorted.head.getAs[Long]("frag_start") == 0L, s"doc $id")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("frag_start") + a.getAs[Long]("frag_len") ==
            b.getAs[Long]("frag_start"), s"doc $id gap")
          assert(b.getAs[Long]("seq_id") == a.getAs[Long]("seq_id") + 1)
        case _ =>
      }
    }
    // every window except the last is exactly full; fragments inside a
    // window tile [0, 128) without overlap
    val bySeq = rows.groupBy(_.getAs[Long]("seq_id"))
    val lastSeq = bySeq.keys.max
    assert(lastSeq == (total - 1) / 128L) // window count matches stream
    for ((sid, frs) <- bySeq) {
      val spans = frs.map(r =>
        (r.getAs[Long]("seq_off"),
          r.getAs[Long]("seq_off") + r.getAs[Long]("frag_len")))
        .sortBy(_._1)
      assert(spans.head._1 == 0L, s"seq $sid starts at ${spans.head._1}")
      spans.sliding(2).foreach {
        case Array(a, b) => assert(a._2 == b._1, s"seq $sid overlap/gap")
        case _ =>
      }
      val fill = spans.last._2
      if (sid != lastSeq) assert(fill == 128L, s"seq $sid fill $fill")
      else assert(fill == total - lastSeq * 128L)
    }
    // deterministic under relayout
    val again = SampleOps.packSequences(docs.repartition(7), "doc_id",
      "n_tok", seqLen = 128L).collect().map(_.toSeq).toSet
    assert(again == rows.map(_.toSeq).toSet)
    packed.unpersist()
  }

  test("paragraphDedup: global first occurrence survives, later copies " +
      "drop, within-doc repeats dedup, empty docs vanish, order kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\n\nshared para\n\ngamma"),
      (2L, "shared para\n\ndelta"),            // shared para first seen in doc 1
      (3L, "own text\n\nown text\n\nepsilon"), // within-doc repeat
      (4L, "shared para")                      // nothing left → vanishes
    ).toDF("doc_id", "text")
    val r = TextDedupOps.paragraphDedup(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(
      1L -> "alpha beta\n\nshared para\n\ngamma",
      2L -> "delta",
      3L -> "own text\n\nepsilon"), r.toString)
  }

  test("badWordHits: word-boundary exactness — compounds and " +
      "inflections never match, phrases need consecutive runs, " +
      "case-insensitive, empty list rejected") {
    import spark.implicits._
    val df = Seq(
      (1L, "the slow query"),            // unigram hit
      (2L, "slowly but surely"),         // inflection: NO hit
      (3L, "a merge batch job"),         // phrase hit
      (4L, "merge the batch"),           // broken run: NO hit
      (5L, "SLOW and Big and merge BATCH"), // case-folded: 3 hits
      (6L, "slow slow slow"),            // occurrences, not distinct
      (7L, "")).toDF("doc_id", "text")
      .select(col("doc_id"), TextStatsOps.badWordHits(col("text"),
        Seq("slow", "big", "merge batch")).as("h"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L, 5L -> 3L,
      6L -> 3L, 7L -> 0L), m.toString)
    intercept[IllegalArgumentException] {
      TextStatsOps.badWordHits(col("text"), Seq("  ", ""))
    }
  }

  test("packPaddedByLength: slot rounding, capacity fill, sub-2x pad " +
      "bound, oversize rejection, layout invariance") {
    import graft.operators.SampleOps
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, (i % 17) + 1)).toDF("doc_id", "n_tok")
    val out = SampleOps.packPaddedByLength(docs, "doc_id", "n_tok", 32L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.length == 40)
    out.foreach { case (id, t, slot, _, pos, pad) =>
      assert(slot >= t && slot < 2 * t, s"doc $id slot $slot for $t") // pow2 round-up
      assert(pad == slot - t && pad < t || t == slot, s"doc $id pad $pad")
      assert(pos >= 0 && pos < 32 / slot, s"doc $id pos $pos slot $slot")
    }
    // every (slot, seq_id) holds at most capacity docs, positions distinct
    out.groupBy(r => (r._3, r._4)).foreach { case ((slot, seq), rows) =>
      assert(rows.length <= 32 / slot, s"overfull sequence $slot/$seq")
      assert(rows.map(_._5).distinct.length == rows.length)
    }
    // non-final sequences are FULL (no fragmentation inside a class)
    out.groupBy(_._3).foreach { case (slot, rows) =>
      val maxSeq = rows.map(_._4).max
      rows.groupBy(_._4).foreach { case (seq, rs) =>
        if (seq < maxSeq)
          assert(rs.length == (32 / slot).toInt, s"gap in $slot/$seq")
      }
    }
    val again = SampleOps.packPaddedByLength(docs.repartition(7),
      "doc_id", "n_tok", 32L).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    assert(again == out.map(r => (r._1, r._4, r._5)).toSet)
    // oversize doc fails loudly, not silently dropped
    val over = Seq((1L, 33L)).toDF("doc_id", "n_tok")
    val e = intercept[Exception] {
      SampleOps.packPaddedByLength(over, "doc_id", "n_tok", 32L).collect()
    }
    assert(e.getMessage.contains("exceeds seqLen") ||
      e.getCause != null && e.getCause.getMessage.contains("exceeds seqLen"),
      e.toString)
  }

  test("repeatToBudget: full epochs + exact partial remainder, epoch " +
      "cap suppresses the partial, small-budget degenerates to a draw") {
    import graft.operators.SampleOps
    import spark.implicits._
    val docs = Seq((1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L))
      .toDF("doc_id", "n_tok") // total 1000
    // budget 2600 → 2 full epochs + a 600-token hash-order partial
    val r = SampleOps.repeatToBudget(docs, "doc_id", "n_tok", 2600L)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.count(_._3 == 0L) == 4 && r.count(_._3 == 1L) == 4)
    val partial = r.filter(_._3 == 2L)
    assert(partial.map(_._2).sum <= 600L, partial.mkString(","))
    // the partial equals the plain budget draw at 600
    val draw = SampleOps.sampleTokenBudget(docs, "doc_id", "n_tok", 600L)
      .select("doc_id").as[Long].collect().toSet
    assert(partial.map(_._1).toSet == draw)
    // cap: budget 10×corpus stops at maxEpochs full epochs, no partial
    val capped = SampleOps.repeatToBudget(docs, "doc_id", "n_tok", 10000L)
      .collect().map(x => x.getLong(2))
    assert(capped.length == 16 && capped.max == 3L)
    // sub-corpus budget: zero full epochs, pure draw at epoch 0
    val small = SampleOps.repeatToBudget(docs, "doc_id", "n_tok", 500L)
      .collect().map(x => (x.getLong(0), x.getLong(2)))
    assert(small.forall(_._2 == 0L))
    assert(small.map(_._1).toSet ==
      SampleOps.sampleTokenBudget(docs, "doc_id", "n_tok", 500L)
        .select("doc_id").as[Long].collect().toSet)
  }

  test("DsirOps.features: unigrams plus adjacent bigrams, short-doc guards") {
    import graft.llm.DsirOps
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "solo"), (3L, ""), (4L, "  x   y "))
      .toDF("id", "text")
      .select(col("id"), DsirOps.features(col("text")).as("f"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L) == Seq("a", "b", "c", "a b", "b c"), m(1L).toString)
    assert(m(2L) == Seq("solo"))
    assert(m(3L) == Seq())
    assert(m(4L) == Seq("x", "y", "x y"))
  }

  test("DSIR selection prefers target-vocabulary documents; table and " +
      "selection are deterministic") {
    import graft.llm.DsirOps
    import spark.implicits._
    // 10 docs in the target's vocabulary, 30 in a disjoint one; the
    // target SAMPLE is 4 separate docs (not in the raw corpus).
    val raw = ((0L until 10L).map(i =>
        (i, s"quantum energy field theory particle q$i wave")) ++
      (10L until 40L).map(i =>
        (i, s"recipe garden football w$i weather market"))).toDF("doc_id", "text")
    val target = (100L until 104L).map(i =>
      (i, "quantum field energy wave particle theory")).toDF("doc_id", "text")
    val ratios = DsirOps.logRatioTableMicro(target, raw, "text", 64)
    assert(ratios.size == 64)
    val picked = DsirOps.selectTopK(raw, "doc_id", "text", ratios, 10)
      .select("doc_id").as[Long].collect().toSet
    assert(picked == (0L until 10L).toSet, picked.toString)
    // deterministic: same table, same selection, under relayout
    val again = DsirOps.logRatioTableMicro(target, raw.repartition(7), "text", 64)
    assert(again == ratios)
    val picked2 = DsirOps.selectTopK(raw.repartition(5), "doc_id", "text",
      ratios, 10).select("doc_id").as[Long].collect().toSet
    assert(picked2 == picked)
  }

  test("DSIR gate rounding margin: every micro-log ratio on the real " +
      "fixtures sits far from a floor(x+0.5) boundary, so a 1-ulp libm " +
      "difference between Math.log and DuckDB ln cannot flip the table") {
    import graft.llm.DsirOps
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = graft.Tables.documents(spark, s"/root/testdata/$sf")
        .select("doc_id", "text")
      val target = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      def histOf(df: org.apache.spark.sql.DataFrame): (Map[Int, Long], Long) = {
        val m = DsirOps.bucketCounts(df, "text", 64).collect()
          .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        (m, m.values.sum)
      }
      val (tm, tTot) = histOf(target)
      val (rm, rTot) = histOf(docs)
      // floor(y) flips where y crosses an integer; distance of y from
      // the nearest integer is the safety margin. A 1-ulp error in
      // each log is ≤ ulp(|log| ≈ 20) ≈ 4e-15 absolute, so y moves by
      // ≤ 1e6·8e-15 ≈ 1e-8 — require 100× that clearance per bucket.
      val margins = (0 until 64).map { b =>
        val x = math.log((tm.getOrElse(b, 0L) + 1).toDouble / (tTot + 64)) -
          math.log((rm.getOrElse(b, 0L) + 1).toDouble / (rTot + 64))
        val y = 1e6 * x + 0.5
        math.abs(y - math.rint(y))
      }
      assert(margins.forall(_ > 1e-6),
        s"$sf: a ratio within 1e-6 of a floor boundary (worst ${margins.min})")
    }
  }

  test("DSIR gumbelTopK: seed-deterministic, and a cold temperature " +
      "recovers the deterministic top-k set") {
    import graft.llm.DsirOps
    import spark.implicits._
    val raw = ((0L until 10L).map(i =>
        (i, s"quantum energy field theory particle q$i wave")) ++
      (10L until 40L).map(i =>
        (i, s"recipe garden football w$i weather market"))).toDF("doc_id", "text")
    val target = Seq((100L, "quantum field energy wave particle theory"))
      .toDF("doc_id", "text")
    val ratios = DsirOps.logRatioTableMicro(target, raw, "text", 64)
    val a = DsirOps.gumbelTopK(raw, "doc_id", "text", ratios, 8)
      .select("doc_id").as[Long].collect().toSeq
    val b = DsirOps.gumbelTopK(raw.repartition(3), "doc_id", "text", ratios, 8)
      .select("doc_id").as[Long].collect().toSeq
    assert(a == b, s"$a vs $b") // same salt → same draw, any layout
    // micro-unit temperature: score gaps (thousands of micro units)
    // dwarf Gumbel noise → the draw degenerates to the argmax slice
    val cold = DsirOps.gumbelTopK(raw, "doc_id", "text", ratios, 10,
      temperature = 1.0).select("doc_id").as[Long].collect().toSet
    val det = DsirOps.selectTopK(raw, "doc_id", "text", ratios, 10)
      .select("doc_id").as[Long].collect().toSet
    assert(cold == det)
  }
}
