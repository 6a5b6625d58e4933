package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Packing, Sampling, Similarity, TextAnalysis}

/** Unit coverage for the pipeline ops: IVF vs brute-force recall,
  * mapPartitions decode, LSH determinism, dedup invariants. */
class OpsSpec extends AnyFunSuite {
  import Fixture.{init, withConf, withGate, ForceDist}

  private val sf = "/root/testdata/sf0.001"

  test("IVF top-k recalls a reasonable fraction of brute-force neighbors") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, e, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(q, e, k = 5,
      numCentroids = 8, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(approx.forall { case (qid, _) => qid < 10 })
    // random 64-dim data clusters poorly; nprobe=4/8 still must beat a
    // trivial baseline
    assert(recall >= 0.3, s"recall $recall")
  }

  test("IVF scans fewer candidates than brute force") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.coarseCentroids(e, 8)
    assert(cents.count() == 8)
    val assigned = Similarity.ivfAssign(e, cents)
    // every vector lands in exactly one list
    assert(assigned.count() == e.count())
    assert(assigned.groupBy("centroid_id").count().count() <= 8)
  }

  test("featurize: packed blob to stub features, columnar end-to-end") {
    val s = Fixture.init()
    import s.implicits._
    val df = Seq((1L, "hello"), (2L, "")).toDF("id", "txt")
    val rows = Multimodal.featurize(df, "id", encode(col("txt"), "UTF-8"))
      .select(col("id"), col("features.byte_len"),
        col("features.first_byte"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getInt(2))))
      .toMap
    assert(rows(1L) == ((5L, Some('h'.toInt)))) // 0x68 = 104
    assert(rows(2L) == ((0L, None))) // empty blob → no first byte
  }

  test("mapPartitions decode pipeline emits one feature row per blob") {
    val s = init()
    val docs = s.read.parquet(s"$sf/documents.parquet")
      .withColumn("blob", to_binary(col("text"), lit("utf-8")))
    val feats = Multimodal.decodePartitions(docs, "doc_id", "blob")(
      Multimodal.stubCodec)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    val byId = rows.map(f => f.id -> f).toMap
    val sample = docs.select("doc_id", "text").collect().take(5)
    sample.foreach { r =>
      val f = byId(r.getLong(0))
      assert(f.byteLen == r.getString(1).getBytes("UTF-8").length)
      assert(f.width == f.byteLen % 100 + 20)
      assert(f.meanByte > 0)
    }
  }

  test("frame-sample plan is deterministic from metadata") {
    val s = init()
    import s.implicits._
    val df = Seq((1L, "vid".getBytes)).toDF("id", "blob")
      .select(col("id"), Multimodal.packMedia(col("blob"), lit("mp4"),
        lit(640), lit(480), lit(10000L)).as("media"))
    val plan = df.select(
      Multimodal.frameSamplePlan(col("media"), 2500L).as("ts")).collect()
    assert(plan.head.getSeq[Long](0) == Seq(0L, 2500L, 5000L, 7500L))
  }

  test("simhash signatures are deterministic and near for near texts") {
    val s = init()
    import s.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely unrelated content"))
      .toDF("id", "text")
    val sig = Dedup.simHashSignatures(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
    // determinism across runs
    val sig2 = Dedup.simHashSignatures(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig == sig2)
  }

  test("minhash LSH finds planted near-duplicates") {
    val s = init()
    import s.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base), (2L, base + " phi"), // near-dup pair
      (3L, "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen"))
      .toDF("id", "text")
    val pairs = Dedup.minHashLshPairs(docs, "id", "text",
      shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("MinHash, SimHash and n-gram Jaccard pairs release their caches") {
    val s = init()
    import s.implicits._
    graft.OpCaches.releaseAll()
    graft.graph.PlanMemo.clearAll()
    s.catalog.clearCache()
    val text = "a b c d e f g h i j k l"
    val docs = Seq((1L, text), (2L, text + " m"),
      (3L, "n o p q r s t u v w x y")).toDF("doc_id", "text")
    // forced distributed: the under-gate MinHash kernel persists nothing
    val got = withConf(s)(ForceDist)(Seq(
      Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.5),
      Dedup.simHashPairs(docs, "doc_id", "text"),
      Dedup.ngramJaccardPairs(docs, "doc_id", "text")).map(_.collect()))
    assert(got.head.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
    assert(graft.OpCaches.trackedCount == 3)
    graft.OpCaches.releaseAll()
    assert(graft.OpCaches.trackedCount == 0)
    assert(s.sharedState.cacheManager.isEmpty)
  }

  test("duplicateGroups: transitive closure over near-dup pairs") {
    val s = init()
    import s.implicits._
    val all = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    // 1≈2, 2≈3 (so {1,2,3} one group even though 1,3 never paired); 4≈5
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateGroups(all, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((1L, 1L, false), (2L, 1L, true), (3L, 1L, true),
      (4L, 4L, false), (5L, 4L, true)))
  }

  test("quality score is monotone in obvious signals") {
    val s = init()
    import s.implicits._
    val df = Seq(
      (1L, "the cat and the dog walked to the park with friends and was happy"),
      (2L, "!!! ??? ... ;;; ::: @@@"))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.qualityScore(col("text")).as("q"))
    val q = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(1L) > q(2L))
  }

  test("jaccard doc-frequency cap bounds hot-shingle candidates") {
    val s = init()
    import s.implicits._
    // 40 docs all share the hot token "the"; only docs 0/1 are near-dups
    val docs = (0 until 40).map { i =>
      val tail = if (i <= 1) "alpha beta gamma delta" else s"unique$i t$i u$i"
      (i.toLong, s"the $tail")
    }.toDF("doc_id", "text")
    // cap 10 < 40 drops "the" as a join key: without the cap the hot
    // token alone creates 40·39/2 = 780 candidate rows
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 1, threshold = 0.5, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
    // reported jaccard is a lower bound under the cap: identical sets
    // {the,alpha,beta,gamma,delta} but the capped "the" is lost from the
    // intersection only → 4 / (5 + 5 − 4) = 4/6
    val j = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 1, threshold = 0.5, maxDocFreq = 10)
      .collect().head.getDouble(2)
    assert(math.abs(j - 4.0 / 6.0) < 1e-6)
    // cap above the max df ⇒ exact value (identical sets → 1.0)
    val jFull = Dedup.ngramJaccardPairs(
      docs.filter(col("doc_id") <= 1), "doc_id", "text",
      k = 1, threshold = 0.5)
      .collect().head.getDouble(2)
    assert(math.abs(jFull - 1.0) < 1e-6)
  }

  test("hash sampling: deterministic, disjoint split, stratified rates") {
    val s = Fixture.init()
    import s.implicits._
    val df = (0L until 1000L).map(i =>
      (i, if (i % 2 == 0) "a" else "b")).toDF("id", "stratum")
    // same key → same bucket, every run
    val s1 = Sampling.hashSample(df, "id", 10).select("id")
      .collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(df, "id", 10).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < 300)
    // a 10% sample is a subset of a 30% sample (bucket monotonicity)
    val s3 = Sampling.hashSample(df, "id", 30).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))
    // train/test: disjoint, complete
    val (train, test) = Sampling.trainTestSplit(df, "id", 20)
    val tr = train.select("id").collect().map(_.getLong(0)).toSet
    val te = test.select("id").collect().map(_.getLong(0)).toSet
    assert(tr.intersect(te).isEmpty && (tr ++ te).size == 1000)
    // stratified: unlisted strata dropped, listed strata at their rate
    val strat = Sampling.stratifiedHashSample(df, "id", "stratum",
      Map("a" -> 100))
    assert(strat.filter(col("stratum") === "b").count() == 0)
    assert(strat.count() == 500)
  }

  test("weighted reservoir: A-ES semantics, shard pre-prune superset, " +
      "weight monotonicity") {
    val s = Fixture.init()
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // two strata; weights rise with id so heavy rows should dominate
    val df = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", 1.0 + (i / 4).toDouble))
      .toDF("id", "stratum", "w")
    val got = Sampling.weightedReservoir(df, "id", "stratum", col("w"),
      k = 15)
    // exactly k per stratum, ranks 1..k, deterministic across calls
    val byStr = got.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStr == Map("a" -> 15L, "b" -> 15L))
    val again = Sampling.weightedReservoir(df, "id", "stratum", col("w"),
      k = 15).select("stratum", "sample_rank", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val first = got.select("stratum", "sample_rank", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(first == again)
    // the shard pre-prune must be invisible: equal to the direct top-k
    // window over the same scores (superset proof exercised end-to-end),
    // at several shard counts including shards=1 (no pruning at all)
    val direct = df
      .withColumn("sample_score",
        round(pow(Sampling.hashUnit(col("id")), lit(1.0) / col("w")), 9))
      .withColumn("sample_rank", row_number().over(
        Window.partitionBy(col("stratum"))
          .orderBy(col("sample_score").desc, col("id").asc)).cast("long"))
      .filter(col("sample_rank") <= 15)
      .select("stratum", "sample_rank", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    for (sh <- Seq(1, 4, 64)) {
      val v = Sampling.weightedReservoir(df, "id", "stratum", col("w"),
        k = 15, shards = sh).select("stratum", "sample_rank", "id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(v == direct, s"shards=$sh diverged from the direct window")
    }
    // inclusion ∝ weight: the sampled mean weight must clearly exceed
    // the population mean (deterministic given the fixed hash draws)
    val popMean = df.agg(avg("w")).collect()(0).getDouble(0)
    val sampMean = got.agg(avg("w")).collect()(0).getDouble(0)
    assert(sampMean > popMean,
      s"sample mean $sampMean not above population mean $popMean")
    // null keys and non-positive weights draw nothing
    val dirty = Seq((Some(1L), "a", 5.0), (None, "a", 5.0),
      (Some(2L), "a", 0.0), (Some(3L), "a", -1.0))
      .toDF("id", "stratum", "w")
    val kept = Sampling.weightedReservoir(dirty, "id", "stratum", col("w"),
      k = 10).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("token chunking: overlap, boundaries, empty docs") {
    val s = Fixture.init()
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"), // 8 tokens → chunks [a..e], [d..h]
      (2L, "x y"),             // under one window → 1 chunk
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkTokens(docs, "text", chunkSize = 5, stride = 3)
      .select("doc_id", "chunk_idx", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(
      (1L, 0L, "a b c d e"), (1L, 1L, "d e f g h"),
      (2L, 0L, "x y"), (3L, 0L, "")))
    // consecutive chunks overlap by chunkSize - stride tokens
    val Seq(c0, c1) = got.toSeq.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    assert(c0.split(" ").takeRight(2).toSeq == c1.split(" ").take(2).toSeq)
  }

  test("repetition stats: duplicate lines, 5-grams, top-2-gram coverage") {
    val s = Fixture.init()
    import s.implicits._
    val docs = Seq(
      (1L, "aa\nbb\naa\n\n cc "), // dup line 'aa'; blank line dropped
      (2L, "a a a a a a"),        // one line; heavy gram repetition
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // 4 lines, 'aa' repeats: 1-3/4 frac; chars 1-6/8; 4 words → no
    // 5-grams; 2-gram tie → lex-min 'aa bb' (5 chars) over 11 word chars
    assert(got(1L) == ((4L, 0.25, 0.25, 0.0, 0.454545)))
    // 'a a' covers 5 occurrences × 3 chars = 15 of 11 word chars — the
    // documented >1 overlap case; 5-grams: 2 occurrences, 1 distinct
    assert(got(2L) == ((1L, 0.0, 0.0, 0.5, 1.363636)))
    assert(got(3L) == ((0L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("c4 flags: terminal punctuation, markers, words per line") {
    val s = Fixture.init()
    import s.implicits._
    val docs = Seq(
      (1L, "Hello there.\nworld\nOk!"),
      (2L, "foo { lorem IPSUM bar"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.c4Flags(docs, "text")
      .select("doc_id", "n_lines", "terminal_punct_line_frac",
        "has_lorem", "has_brace", "mean_words_per_line")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getBoolean(4), r.getDouble(5)))).toMap
    assert(got(1L) == ((3L, 0.666667, false, false, 1.333333)))
    assert(got(2L) == ((1L, 0.0, true, true, 5.0)))
    assert(got(3L) == ((0L, 0.0, false, false, 0.0)))
  }

  test("decontamination: shared n-grams flagged, short/null docs are clean") {
    val s = init()
    import s.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x Alpha BETA gamma delta y"),       // case-folded 4-gram hit
      (2L, "alpha beta gamma zeta eta theta"),  // only 3 shared words: clean
      (3L, "one two three"),                    // < 4 words: no grams
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    // doc 1 grams: "x alpha beta gamma", "alpha beta gamma delta",
    // "beta gamma delta y" — exactly one is a benchmark gram
    assert(got(1L) == ((3L, 1L, true)))
    assert(got(2L) == ((3L, 0L, false)))
    assert(got(3L) == ((0L, 0L, false)))
    assert(got(4L) == ((0L, 0L, false)))
  }

  test("pii redaction: emails and ips counted and replaced") {
    val s = init()
    import s.implicits._
    val docs = Seq(
      (1L, "mail bob@example.com or alice@test.org now"),
      (2L, "host 10.0.0.1 and 192.168.1.255 up"),
      (3L, "clean text only"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(docs, "text")
      .select("doc_id", "n_emails", "n_ips", "redacted_text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        Option(r.getString(3))))).toMap
    assert(got(1L) == ((2L, 0L, Some("mail [EMAIL] or [EMAIL] now"))))
    assert(got(2L) == ((0L, 2L, Some("host [IP] and [IP] up"))))
    assert(got(3L) == ((0L, 0L, Some("clean text only"))))
    assert(got(4L) == ((0L, 0L, None)))
  }

  test("mixture sampling: binding stratum keeps rate 1, mix hits targets") {
    val s = init()
    import s.implicits._
    // en: 4 docs x 10 tokens = 40; de: 4 x 30 = 120. Targets 50/50 =>
    // T = min(40/.5, 120/.5) = 80: en binds (rate 1), de keeps 1/3.
    val docs = (1L to 4L).map(i => (i, "en", Seq.fill(10)("w").mkString(" "))) ++
      (5L to 8L).map(i => (i, "de", Seq.fill(30)("w").mkString(" ")))
    val df = docs.toDF("doc_id", "lang", "text")
    val w = TextAnalysis.tokenCount(col("text"))
    val rates = Sampling.mixtureRates(df, "lang", w,
      Map("en" -> 0.5, "de" -> 0.5))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(rates("en") == 1.0)
    assert(math.abs(rates("de") - 1.0 / 3.0) < 1e-12)
    val kept = Sampling.mixtureSample(df, "doc_id", "lang", w,
      Map("en" -> 0.5, "de" -> 0.5))
    // membership is exactly hashUnit(key) < rate — replay it
    val expected = df.withColumn("__u", Sampling.hashUnit(col("doc_id")))
      .collect().filter { r =>
        r.getDouble(3) < rates(r.getString(1))
      }.map(_.getLong(0)).toSet
    assert(kept.collect().map(_.getAs[Long]("doc_id")).toSet == expected)
    // en never dropped (rate 1)
    assert(kept.filter(col("lang") === "en").count() == 4)
    // strata absent from targets are excluded entirely
    val extra = df.union(Seq((9L, "fr", "a b c")).toDF("doc_id", "lang", "text"))
    assert(Sampling.mixtureSample(extra, "doc_id", "lang", w,
      Map("en" -> 0.5, "de" -> 0.5))
      .filter(col("lang") === "fr").count() == 0)
  }

  test("c4 flags: CRLF lines carry no trailing CR into the metrics") {
    val s = init()
    import s.implicits._
    val docs = Seq((1L, "Done.\r\nnext")).toDF("doc_id", "text")
    val got = TextAnalysis.c4Flags(docs, "text")
      .select("n_lines", "terminal_punct_line_frac").collect().head
    // Java $ matches before a trailing \r while RE2's does not — the
    // \r?\n split removes the divergence entirely
    assert(got.getLong(0) == 2L)
    assert(got.getDouble(1) == 0.5)
  }

  test("mixture sampling: zero-weight stratum is excluded, not a " +
      "sample collapse") {
    val s = init()
    import s.implicits._
    val docs = ((1L to 4L).map(i => (i, "en", "a b c d e")) ++
      (5L to 6L).map(i => (i, "de", "   "))).toDF("doc_id", "lang", "text")
    val w = TextAnalysis.tokenCount(col("text"))
    val rates = Sampling.mixtureRates(docs, "lang", w,
      Map("en" -> 0.5, "de" -> 0.5))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    // de has zero total weight: no rate row (NOT a NaN that least()
    // would resolve to keep-all while zeroing en's rate)
    assert(rates == Map("en" -> 1.0))
    val kept = Sampling.mixtureSample(docs, "doc_id", "lang", w,
      Map("en" -> 0.5, "de" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  test("int8 quantization: codes in range, roundtrip error bounded, " +
      "constant vectors exact") {
    val s = init()
    import s.implicits._
    val vecs = Seq(
      (1L, Seq(0.0f, 1.0f, 0.5f, -1.0f)),
      (2L, Seq(3.25f, 3.25f, 3.25f)),          // constant: max = min
      (3L, Seq(-2.0f, 2.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs, "embedding")
    val rows = q.withColumn("deq", Similarity.dequantizeInt8(
        col("q_codes"), col("q_min"), col("q_max")))
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Float](1), r.getDouble(2), r.getDouble(3),
          r.getSeq[Int](4), r.getSeq[Double](5)))).toMap
    rows.foreach { case (_, (orig, mn, mx, codes, deq)) =>
      assert(codes.forall(c => c >= -128 && c <= 127))
      val step = if (mx == mn) 0.0 else (mx - mn) / 255.0
      orig.zip(deq).foreach { case (o, d) =>
        assert(math.abs(o - d) <= step / 2 + 1e-9, s"$o vs $d")
      }
    }
    // endpoints map to the ends of the code range
    assert(rows(1L)._4.min == -128 && rows(1L)._4.max == 127)
    assert(rows(2L)._4 == Seq(0, 0, 0) && rows(2L)._5 == Seq(3.25, 3.25, 3.25))
    assert(rows(3L)._4 == Seq(-128, 127))
  }

  test("boundary whitespace never yields empty tokens (review fix)") {
    val s = init()
    import s.implicits._
    val docs = Seq((1L, "hello world\n"), (2L, "\tx"), (3L, " \n "),
      (4L, "a b")).toDF("doc_id", "text")
    val counts = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // Spark's trim strips spaces only: before the wsTrim fix these were
    // 3 / 2 / 1 — an "" token joined the vocabulary for every doc with
    // a trailing newline or tab
    assert(counts == Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 2L))
    val lp = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lp == Map(1L -> 2L, 2L -> 1L, 3L -> 0L, 4L -> 2L))
  }

  test("global line dedup: first (doc, idx) occurrence wins, docs " +
      "reassemble in order") {
    val s = init()
    import s.implicits._
    val docs = Seq(
      (1L, "aa\nbb\naa"),   // intra-doc repeat of 'aa'
      (2L, "bb\ncc"),       // 'bb' already owned by doc 1
      (3L, "aa\nbb"),       // everything seen: collapses to empty
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.dedupLines(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
      .toMap
    assert(got(1L) == ((2L, "aa\nbb")))
    assert(got(2L) == ((1L, "cc")))
    assert(got(3L) == ((0L, "")))
    assert(got(4L) == ((0L, "")))
  }

  test("unigram logprob: corpus-frequency mean, empty docs null") {
    val s = init()
    import s.implicits._
    // corpus: a a a b  => p(a)=3/4, p(b)=1/4
    val docs = Seq(
      (1L, "a a"), (2L, "A b"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    val pa = math.log(3.0 / 4.0)
    val pb = math.log(1.0 / 4.0)
    assert(got(1L)._1 == 2L)
    assert(math.abs(got(1L)._2.get - BigDecimal(pa).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(got(2L)._1 == 2L)
    assert(math.abs(got(2L)._2.get - BigDecimal((pa + pb) / 2).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(got(3L) == ((0L, None)))
  }

  test("corpus profile: exact interpolated quartiles per stratum") {
    val s = init()
    import s.implicits._
    val docs = Seq(
      ("x", "a"), ("x", "a b"), ("x", "a b c"), ("x", "a b c d"),
      ("y", (1 to 10).map(_ => "t").mkString(" "))).toDF("source", "text")
    val got = TextAnalysis.corpusProfile(docs, "source", "text")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // counts [1,2,3,4]: rank (n-1)p => 1.75 / 2.5 / 3.25
    assert(got("x") == ((4L, 10L, 1.75, 2.5, 3.25)))
    assert(got("y") == ((1L, 10L, 10.0, 10.0, 10.0)))
  }

  test("sequence packing: per-shard block budgets hold, deterministic") {
    val s = Fixture.init()
    import s.implicits._
    val docs = (0L until 400L).map(i => (i, 50L + i % 130))
      .toDF("doc_id", "n_tokens")
    val packed = Packing.packBlocks(docs, "doc_id", "n_tokens",
      blockTokens = 500L, shards = 4)
    val rows = packed.select("shard", "block", "doc_id", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // every doc appears exactly once
    assert(rows.length == 400 && rows.map(_._3).distinct.length == 400)
    // start-offset property: a block's token sum is < budget + its last
    // doc's tokens (every doc STARTS inside the block's budget window)
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, ds) =>
      val total = ds.map(_._4).sum
      assert(total < 500L + ds.map(_._4).max)
    }
    // per-shard blocks are contiguous from 0
    rows.groupBy(_._1).foreach { case (_, ds) =>
      val blocks = ds.map(_._2).distinct.sorted.toSeq
      assert(blocks == (0L until blocks.length.toLong))
    }
    // deterministic across runs
    val again = Packing.packBlocks(docs, "doc_id", "n_tokens", 500L, 4)
      .select("shard", "block", "doc_id").collect().toSet
    assert(again == packed.select("shard", "block", "doc_id").collect().toSet)
  }

  test("portable md5 hash: declarative and codegen simhash agree bitwise") {
    val s = Fixture.init()
    import s.implicits._
    // the q21 oracle recomputes signatures from md5 prefixes in SQL; this
    // pins the two Spark-side paths (HOF portableHash64 vs the fused
    // PortableHash.md5Hash64 codegen) to each other bit-for-bit
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, ""),
      (3L, "a b a b a"), (4L, "unicode ÄÖÜ 中文 tokens here"))
      .toDF("id", "text")
    val rows = docs.select(col("id"), Dedup.simHash(col("text")).as("a"))
      .join(Dedup.simHashSignatures(docs, "id", "text")
        .select(col("id"), col("sig").as("b")), "id")
      .collect()
    assert(rows.length == 4)
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), r.toString))
  }

  test("portable md5 hash31: fused array codegen agrees with the " +
      "declarative form") {
    val s = Fixture.init()
    import s.implicits._
    // the q20 oracle replays minhash from pmod(conv(substr(md5)),p) in
    // SQL; this pins the fused Md5Hash31Array path to that exact value
    val docs = Seq((1L, Seq("a", "bb", "", "unicode 中文", "x y z")),
      (2L, Seq.empty[String])).toDF("id", "arr")
    val rows = docs.select(col("id"),
        graft.functions.VectorFunctions.md5_hash31_array(col("arr"))
          .as("a"),
        transform(col("arr"), s => Dedup.portableHash31(s)).as("b"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), r.toString)
    }
    assert(rows.length == 2)
  }

  test("fused content key matches md5(lower(regexp-trimmed text)) exactly") {
    val s = Fixture.init()
    import s.implicits._
    // every \s edge char, interior whitespace kept, unicode casing,
    // blanks, multi-byte neighbors of the whitespace byte values
    val texts = Seq("hello", "  hello  ", "\t\nHeLLo\r\f", "",
      "   ", "a  b", "ÉLAN Straße", "\nmid\tline\n\nkeep\n", "ß",
      "漢字 テスト ", null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        TextAnalysis.fingerprintMd5(col("text")).as("k"),
        md5(lower(regexp_replace(col("text"), "^\\s+|\\s+$", "")))
          .as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch: $r")
      if (!r.isNullAt(1)) assert(r.getString(1) == r.getString(2), r.toString)
    }
  }

  test("content key anchors $ at end-of-text (RE2/DuckDB), not before a " +
      "final U+2028 line terminator (Java regex)") {
    val s = Fixture.init()
    import s.implicits._
    // Java regex `$` also matches BEFORE a trailing U+0085/U+2028/U+2029,
    // so the composed md5(lower(regexp_replace(.., "^\\s+|\\s+$", "")))
    // strips the ASCII space in "a \u2028"; the fused byte scan (like the
    // RE2-based DuckDB oracle, where $ is end-of-text) keeps it. Pin the
    // intended divergence: fused == md5(lower(untrimmed)) != composed.
    val df = Seq((1L, "a \u2028")).toDF("id", "text")
    val r = df.select(
        TextAnalysis.fingerprintMd5(col("text")).as("fused"),
        md5(lower(regexp_replace(col("text"), "^\\s+|\\s+$", "")))
          .as("composed"),
        md5(lower(col("text"))).as("untrimmed"))
      .head()
    assert(r.getString(0) == r.getString(2),
      "fused key must keep the space before a final U+2028")
    assert(r.getString(0) != r.getString(1),
      "Java-regex composed form should diverge here — if this starts " +
        "passing the JDK changed $ semantics; re-check the scaladoc")
  }

  test("exact dedup: null-text docs are their own canonical, never dups") {
    val s = Fixture.init()
    import s.implicits._
    // two real dups, two null-text docs: null text is UNKNOWN content —
    // the two null docs must NOT be lumped into one duplicate group
    val docs = Seq((1L, Some("same text")), (2L, Some("same text")),
      (3L, None: Option[String]), (4L, None: Option[String]),
      (5L, Some("unique"))).toDF("doc_id", "text")
    val got = Dedup.exactGroups(docs, "doc_id", "text")
      .select("doc_id", "canonical_id", "is_duplicate")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got == Map(
      1L -> ((1L, false)), 2L -> ((1L, true)),
      3L -> ((3L, false)), 4L -> ((4L, false)),
      5L -> ((5L, false))))
  }

  test("token chunking: null text behaves exactly like empty text") {
    val s = Fixture.init()
    import s.implicits._
    val docs = Seq((1L, Some("")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkTokens(docs, "text", chunkSize = 5,
        stride = 3)
      .select("doc_id", "chunk_idx", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    // one empty chunk each — the documented contract, not a greatest()
    // null-skipping artifact
    assert(got == Set((1L, 0L, ""), (2L, 0L, "")))
  }

  test("sequence packing: default shard count scales with input partitions") {
    val s = Fixture.init()
    import s.implicits._
    val docs = (0L until 2000L).map(i => (i, 50L)).toDF("doc_id", "n_tokens")
      .repartition(64)
    val shards = Packing.packBlocks(docs, "doc_id", "n_tokens", 500L)
      .select("shard").distinct().collect().map(_.getLong(0))
    // default derives shards from max(32, input partitions) = 64: with
    // 2000 keys md5-hashed over 64 buckets, shards ≥ 32 must be hit —
    // a hard-coded 32 would funnel 1/32 of a 100 TB corpus per task
    assert(shards.exists(_ >= 32L))
    assert(shards.forall(b => b >= 0L && b < 64L))
  }

  test("blocked bucket join: exact pair set at any block size (incl. " +
      "multi-block hot buckets)") {
    val s = init()
    import s.implicits._
    // bucket A: 7 members (4 blocks at blockSize=2 — the hot-bucket
    // shape); bucket B: 2; bucket C: singleton (no pairs)
    val rows = ((1L to 7L).map(i => (i, "A")) ++
      Seq((10L, "B"), (11L, "B"), (20L, "C"))).toDF("id", "bucket")
    def pairs(blockSize: Int): Set[(Long, Long)] =
      Dedup.blockedBucketJoin(rows, Seq("bucket"), blockSize)
        .select(col("x.id"), col("y.id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      i <- 1L to 7L; j <- (i + 1) to 7L
    } yield (i, j)).toSet + ((10L, 11L))
    // blockSize larger than every bucket = the plain join; tiny block
    // sizes exercise diagonal and off-diagonal cells — same exact set,
    // no pair lost or duplicated
    for (bs <- Seq(1, 2, 3, 100)) {
      val got = Dedup.blockedBucketJoin(rows, Seq("bucket"), bs)
        .select(col("x.id"), col("y.id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"dup pairs at blockSize=$bs")
      assert(got.toSet == expected, s"wrong set at blockSize=$bs")
    }
    assert(pairs(2) == expected)
  }

  test("blocked bucket join: small-bucket probe takes the direct join " +
      "(no window scaffolding); a hot bucket keeps the blocked shape") {
    val s = init()
    import s.implicits._
    val rows = ((1L to 7L).map(i => (i, "A")) ++
      Seq((10L, "B"), (11L, "B"))).toDF("id", "bucket")
    def hasWindow(bs: Int): Boolean =
      Dedup.blockedBucketJoin(rows, Seq("bucket"), bs)
        .queryExecution.executedPlan.toString.contains("Window")
    assert(!hasWindow(100),
      "all buckets under blockSize — the probe must pick the direct join")
    assert(hasWindow(3),
      "a 7-member bucket over blockSize=3 must keep the blocked shape")
  }

  test("simhash maxDist above the blocking guarantee is rejected") {
    val s = init()
    import s.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simHashPairs(docs, "doc_id", "text", maxDist = 4).collect()
    }
  }

  test("kMeans: deterministic, partitions the corpus, and improves " +
      "assignment quality over the hash-mod init") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val trained = Similarity.kMeans(e, k = 6, iters = 2)
    assert(trained.count() <= 6)
    // identical rerun — no RNG state anywhere
    val again = Similarity.kMeans(e, k = 6, iters = 2)
      .select(col("centroid_id"), to_json(col("vec"))).collect().toSet
    assert(trained.select(col("centroid_id"), to_json(col("vec")))
      .collect().toSet == again)
    def meanCos(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.ivfAssign(e, cents)
        .join(cents.select(col("centroid_id"), col("vec")), Seq("centroid_id"))
        .select(avg(Similarity.cosine(
          col("embedding").cast("array<double>"), col("vec"))))
        .head().getDouble(0)
    val init0 = Similarity.kMeans(e, k = 6, iters = 0)
    // every vector is assigned exactly once whatever the centroids
    assert(Similarity.ivfAssign(e, trained).count() == e.count())
    // Lloyd iterations must not make the mean vector-to-centroid cosine
    // worse than the unfitted hash-mod init
    assert(meanCos(trained) >= meanCos(init0) - 1e-9,
      s"trained ${meanCos(trained)} vs init ${meanCos(init0)}")
  }

  test("semanticDedup: derived k scales with the corpus and the pair " +
      "search stays bounded on a skewed fixture") {
    val s = init()
    import s.implicits._
    val dims = 52
    def oneHot(d: Int): Array[Float] =
      Array.tabulate(dims)(i => if (i == d) 1.0f else 0.0f)
    // skewed fixture: 150 identical vectors (one hot semantic cluster —
    // far above the 50-vector target bucket) + 50 mutually orthogonal
    val rows = (0L until 150L).map(i => (i, oneHot(0))) ++
      (150L until 200L).map(i => (i, oneHot((i - 150).toInt + 2)))
    val df = rows.toDF("vec_id", "embedding")
    // n=200 / targetBucket=50 derives k=4
    val out = Similarity.semanticDedup(df, threshold = 0.9,
        targetBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == 200)
    val cids = out.map(_._2).toSet
    // derivation happened: ids live in [0, 4) and the orthogonal tail
    // spreads over >1 cluster (a fixed k=1 default would give {0})
    assert(cids.forall(c => c >= 0L && c < 4L), s"cids $cids")
    assert(cids.size >= 2, s"cids $cids")
    // identical vectors always share a cluster: everyone after vec 0 is
    // a duplicate; the orthogonal tail (pairwise cosine 0) never is —
    // the skewed 150-member bucket still resolves exactly because
    // blockedBucketJoin splits it into bounded cells
    val dupIds = out.filter(_._3).map(_._1).toSet
    assert(dupIds == (1L until 150L).toSet, s"got ${dupIds.size} dups")
    // the hot cluster's population exceeds the target bucket (the skew
    // is real) — the per-task bound comes from the blocked join, whose
    // exactness is pinned by the blocked-bucket-join spec above
    val hotPop = out.groupBy(_._2).map(_._2.length).max
    assert(hotPop >= 150, s"hot cluster $hotPop")
  }

  test("countmin: estimate upper-bounds the true count for EVERY token, " +
      "and is exact when width removes collisions") {
    val s = init()
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val truth = docs
      .filter(col("text").isNotNull &&
        length(TextAnalysis.wsTrim(col("text"))) > 0)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint()
    val vocab = truth.count()
    // tight sketch: collisions certain (width << vocab), min-estimate
    // must still never undercount
    val sk = graft.ops.Sketches.countMinSketch(docs, "text", 4, 16)
    assert(sk.groupBy("d").count().count() == 4)
    val est = graft.ops.Sketches.countMinEstimate(sk, truth, 4, 16)
    val under = est.join(truth, Seq("token"))
      .filter(col("est") < col("true_cnt")).count()
    assert(under == 0, "CountMin undercounted")
    // sketch mass: every (d) row sums to the total token count
    val total = truth.agg(sum("true_cnt")).head().getLong(0)
    val perRow = sk.groupBy("d").agg(sum("cnt").as("mass"))
      .collect().map(_.getLong(1))
    assert(perRow.forall(_ == total), s"mass ${perRow.toSeq} != $total")
    // wide sketch: no collisions at this vocab → estimates are exact
    val wide = graft.ops.Sketches.countMinSketch(docs, "text", 4, 1 << 20)
    val estW = graft.ops.Sketches.countMinEstimate(wide, truth, 4, 1 << 20)
    val offW = estW.join(truth, Seq("token"))
      .filter(col("est") =!= col("true_cnt")).count()
    assert(vocab < 3000 && offW == 0,
      s"wide sketch diverged on $offW of $vocab tokens")
  }

  test("IVF-PQ composite: results live in probed lists, ranks are " +
      "contiguous, and ADC scores equal the unpruned PQ scan's") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val res = Similarity.ivfPqTopK(q, e, k = 5, numCentroids = 4,
      nprobe = 2, m = 2, ksub = 8, coarseIters = 1, pqIters = 1)
    val rows = res.collect()
    assert(rows.nonEmpty && rows.length <= 10 * 5)
    // ranks contiguous from 1 per query
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq ===
        (1L to rs.length.toLong))
    }
    // every (query, neighbor) sits in a probed inverted list
    val cents = Similarity.kMeans(e, k = 4, iters = 1)
    val lists = Similarity.ivfAssign(e, cents)
      .select(col("vec_id").as("nid"), col("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rank-1 list membership is NOT required — only that the neighbor's
    // list is among the query's nprobe probes; recompute them
    val probed = {
      import org.apache.spark.sql.expressions.Window
      val c = cents.select(col("centroid_id"),
        col("vec").cast("array<double>").as("cvv"))
      q.select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))
        .crossJoin(broadcast(c))
        .withColumn("__sim", Similarity.cosine(col("qv"), col("cvv")))
        .withColumn("__rn", org.apache.spark.sql.functions.row_number()
          .over(Window.partitionBy("query_id")
            .orderBy(col("__sim").desc, col("centroid_id").asc)))
        .filter(col("__rn") <= 2)
        .select("query_id", "centroid_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    rows.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(1))
      assert(probed.contains((qid, lists(nid))),
        s"neighbor $nid of query $qid outside its probed lists")
    }
    // ADC arithmetic is candidate-independent: scores for the pairs the
    // composite returns must equal the unpruned PQ scan's for the same
    // pairs (the IVF stage prunes candidates, never changes scores)
    val full = Similarity.pqTopK(q, e, k = Int.MaxValue, m = 2, ksub = 8,
        iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(full(key) === r.getDouble(3),
        s"ADC score diverges for $key")
    }
  }

  test("per-group CountMin: each group's counters equal a solo sketch " +
      "of that group, and estimates never undercount within the group") {
    val s = init()
    import s.implicits._
    val docs = Seq(
      ("a", "x x y z"), ("a", "x y"), ("a", null),
      ("b", "p q q"), ("b", "  "), ("b", "p p p r")
    ).toDF("source", "text")
    val (depth, width) = (4, 8)
    val byGrp = graft.ops.Sketches
      .countMinSketchByGroup(docs, "source", "text", depth, width)
    // group isolation: the per-group counter table IS the solo sketch of
    // that group's documents — no cross-group bleed in either direction
    for (g <- Seq("a", "b")) {
      val solo = graft.ops.Sketches.countMinSketch(
          docs.filter(col("source") === g), "text", depth, width)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val grp = byGrp.filter(col("grp") === g)
        .select("d", "bucket", "cnt")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(grp === solo, s"group $g counters diverge from solo sketch")
    }
    // within-group estimates are upper bounds on the true counts
    val truth = docs.filter(col("text").isNotNull &&
        length(graft.ops.TextAnalysis.wsTrim(col("text"))) > 0)
      .select(col("source").as("grp"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      .groupBy("grp", "token").agg(count(lit(1)).as("true_cnt"))
    val est = graft.ops.Sketches.countMinEstimateByGroup(
      byGrp, truth.select("grp", "token"), depth, width)
    val joined = est.join(truth, Seq("grp", "token")).collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r =>
      r.getAs[Long]("est") >= r.getAs[Long]("true_cnt")))
    // 'q' only exists in group b: its group-a estimate reads group-a
    // counters only (likely 0 at this width unless a-group tokens
    // collide into every one of its 4 buckets)
    val qa = graft.ops.Sketches.countMinEstimateByGroup(
        byGrp, Seq(("a", "q")).toDF("grp", "token"), depth, width)
      .head().getAs[Long]("est")
    val qb = graft.ops.Sketches.countMinEstimateByGroup(
        byGrp, Seq(("b", "q")).toDF("grp", "token"), depth, width)
      .head().getAs[Long]("est")
    assert(qb >= 2L)
    assert(qa <= qb)
  }

  test("hllIdxRho fused expression: bit-identical to the declarative " +
      "md5-hex formula every oracle replays (nulls, empties, multibyte)") {
    val s = init()
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val data: Seq[String] = (1 to 2000).map { i =>
      if (i % 97 == 0) null
      else {
        val base = Seq.fill(rnd.nextInt(40))(
          rnd.nextPrintableChar()).mkString
        if (i % 5 == 0) base + "é≈ÿ漢" else base
      }
    } ++ Seq("", "0", null)
    val df = data.toDF("k")
    for (b <- Seq(8, 12, 16)) {
      val hex = md5(col("k").cast("string"))
      val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
      val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
      val w = shiftleft(hi, 32 - b) + shiftright(lo, b)
      val rho = when(w === 0, lit(65 - b))
        .otherwise(lit(65 - b) - length(bin(w))).cast("long")
      val idx = pmod(lo, lit(1L << b))
      val bad = df
        .select(col("k"), graft.ops.Sketches.hllIdxRho(col("k"), b).as("f"),
          idx.as("idx"), rho.as("rho"))
        .filter(!(col("f.idx") <=> col("idx") &&
          col("f.rho") <=> col("rho")))
      assert(bad.count() == 0, s"fused/declarative divergence at b=$b: " +
        bad.take(3).mkString("; "))
    }
  }

  test("hllSummary: zero-document input yields NULL regs_md5 (the " +
      "DuckDB string_agg-over-zero-rows twin), not md5 of empty string") {
    val s = init()
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("idx", "rho")
    val row = graft.ops.Sketches.hllSummary(empty, b = 8).head()
    assert(row.getAs[Long]("nonzero_regs") == 0L)
    assert(row.isNullAt(row.fieldIndex("regs_md5")))
  }

  test("product quantization: code shape, reconstruction beats random, " +
      "and ADC top-k recalls most of the exact neighbors") {
    val s = init()
    val e = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = 2; val ksub = 8
    val books = Similarity.pqTrain(e, m, ksub, iters = 1)
    // m sub-codebooks, each centroid a 32-dim subspace vector, ids < ksub
    val bk = books.collect()
    assert(bk.nonEmpty && bk.forall(_.getSeq[Double](2).length == 32))
    assert(bk.forall(r => r.getLong(1) >= 0 && r.getLong(1) < ksub))
    val codes = Similarity.pqEncode(e, books, m)
    val cs = codes.collect()
    assert(cs.length == e.count())
    assert(cs.forall(_.getSeq[Long](1).length == m))
    assert(cs.forall(_.getSeq[Long](1).forall(c => c >= 0 && c < ksub)))
    // ADC top-k vs exact brute force. The synthetic embeddings are
    // near-orthogonal noise (exact cosines ±0.15), so absolute recall is
    // intrinsically low at any small code budget — the honest contract
    // is that recall SCALES with the budget: 16x32 codes (80 bits) must
    // clearly beat both random guessing (~5/50 expected) and the coarse
    // 2x8 config (measured 2/50). Structured real-world embeddings
    // recall far higher; correctness is separately value-gated by q96's
    // full SQL replay.
    val queries = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, e, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    def recall(mm: Int, ks: Int, it: Int): Long =
      Similarity.pqTopK(queries, e, k = 5, m = mm, ksub = ks, iters = it)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    val coarse = recall(2, 8, 1)
    val fine = recall(16, 32, 2)
    assert(fine >= 12, s"fine-code ADC recall too low: $fine of 50")
    assert(fine > coarse,
      s"recall must scale with code budget (coarse=$coarse fine=$fine)")
  }

  test("bloom filter: no false negatives, FP rate at the designed bound, " +
      "deterministic checksum, and maybe-contamination ⊇ exact") {
    val s = init()
    import s.implicits._
    val sk = graft.ops.Sketches
    val m = 1 << 12
    val members = (1 to 200).map(i => s"key$i").toDF("k")
    val bits = sk.bloomBits(members, col("k"), m, 4)
    // every member must probe maybe_present (no false negatives — the
    // Bloom contract)
    val neg = sk.bloomContains(bits, members, "k", m, 4)
      .filter(!col("maybe_present")).count()
    assert(neg == 0L)
    // non-members: fill ≤ 800/4096, so FP rate ≤ 0.195^4 ≈ 0.15% — 200
    // probes should see ~0 false positives; allow a generous 5
    val others = (201 to 400).map(i => s"key$i").toDF("k")
    val fps = sk.bloomContains(bits, others, "k", m, 4)
      .filter(col("maybe_present")).count()
    assert(fps <= 5L, s"false-positive count $fps out of 200")
    // summary: set-bit count bounded by k*n, checksum deterministic
    val row1 = sk.bloomSummary(bits, m, 4).head()
    val row2 = sk.bloomSummary(
      sk.bloomBits(members, col("k"), m, 4), m, 4).head()
    assert(row1.getAs[Long]("n_set") > 0 &&
      row1.getAs[Long]("n_set") <= 800L)
    assert(row1.getAs[String]("bits_md5") == row2.getAs[String]("bits_md5"))
    // maybe-contamination is a SUPERSET of exact contamination
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta unrelated")).toDF("doc_id", "text")
    val bench = Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val exact = graft.ops.TextAnalysis
      .decontaminate(docs, bench, "doc_id", "text", n = 4)
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    val maybe = graft.ops.TextAnalysis
      .decontaminateBloom(docs, bench, "doc_id", "text", n = 4)
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 3L))
    assert(exact.subsetOf(maybe))
  }

  test("duplicatedSpans: cross-doc runs, split runs, gram-less docs, " +
      "and the minDocs threshold") {
    val s = init()
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),          // 6 grams
      (2L, "x a b c d e f g h y"),          // shares the 8-word span
      (3L, "p q r s t u"),                  // 2 grams, no cross-doc dup
      (4L, null.asInstanceOf[String]),      // gram-less
      (5L, "a b c d e Z d e f g h")         // two SEPARATE dup'd grams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.duplicatedSpans(docs, "doc_id", "text",
      n = 5, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("dup_grams"),
          r.getAs[Long]("max_dup_run"), r.getAs[Double]("dup_frac"))))
      .toMap
    // d1/d2 share "a b c d e f g h": 4 consecutive 5-grams — one run
    assert(got(1L) == ((6L, 4L, 4L, 0.666667)))
    assert(got(2L) == ((6L, 4L, 4L, 0.666667)))
    assert(got(3L) == ((2L, 0L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0L, 0.0)))
    // d5: "a b c d e" (pos 0) and "d e f g h" (pos 6) both duplicated,
    // separated by non-duplicated grams — two runs of 1, never merged
    assert(got(5L) == ((7L, 2L, 1L, 0.285714)))
    // minDocs = 3: every shared gram lives in exactly 2 docs... except
    // "a b c d e" and "d e f g h", which d5 raises to 3 documents
    val strict = TextAnalysis.duplicatedSpans(docs, "doc_id", "text",
      n = 5, minDocs = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("dup_grams")).toMap
    assert(strict(1L) == 2L && strict(2L) == 2L && strict(5L) == 2L &&
      strict(3L) == 0L)
  }

  test("buildVocab ranks by (count desc, token); encodeTokens maps ids " +
      "in document order with OOV and empty-doc handling") {
    val s = init()
    import s.implicits._
    val docs = Seq(
      (1L, "b b b a a c"),   // counts: b=3, a=2+2=..., see below
      (2L, "a a d c B"),     // 'B' lowercases into b
      (3L, "   "),           // blank → empty ids
      (4L, null.asInstanceOf[String]),
      (5L, "e a")            // e is OOV at size 3
    ).toDF("doc_id", "text")
    // totals: a=5, b=4, c=2, d=1, e=1 → vocab(3) = a:0, b:1, c:2
    val vocab = graft.ops.TextAnalysis.buildVocab(docs, "text", size = 3)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Number](2).intValue())).toList.sortBy(_._3)
    assert(vocab == List(("a", 5L, 0), ("b", 4L, 1), ("c", 2L, 2)))
    val enc = graft.ops.TextAnalysis.encodeTokens(
        docs, "doc_id", "text",
        graft.ops.TextAnalysis.buildVocab(docs, "text", size = 3))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Long](3)))).toMap
    assert(enc(1L) == ((6L, 0L, Seq(1L, 1L, 1L, 0L, 0L, 2L))))
    assert(enc(2L) == ((5L, 1L, Seq(0L, 0L, -1L, 2L, 1L))))
    assert(enc(3L) == ((0L, 0L, Seq())))
    assert(enc(4L) == ((0L, 0L, Seq())))
    assert(enc(5L) == ((2L, 1L, Seq(-1L, 0L))))
    // tie-break: equal counts rank lexicographically
    val tied = graft.ops.TextAnalysis.buildVocab(
        Seq((1L, "z y x")).toDF("doc_id", "text"), "text", size = 2)
      .collect().map(r => (r.getString(0), r.getAs[Number](2).intValue()))
      .toList.sortBy(_._2)
    assert(tied == List(("x", 0), ("y", 1)))
  }

  test("sampleQuantiles: exact quantile_disc ranks over the " +
      "deterministic hash sample; empty sample yields no rows") {
    val s = init()
    import s.implicits._
    val rows = (1L to 400L).map(i => (i, (i * 37L) % 1000)).toDF("k", "v")
    val got = graft.ops.Sampling.sampleQuantiles(rows, "k", "v",
        rate = 0.3, probs = Seq(0.1, 0.5, 1.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .toList.sortBy(_._1)
    // test-side replay: same md5 draw via the engine's own hashUnit
    val kept = rows.filter(graft.ops.Sampling.hashUnit(col("k")) < 0.3)
      .select(col("v").cast("double")).collect().map(_.getDouble(0)).sorted
    assert(kept.nonEmpty && got.forall(_._3 == kept.length))
    def qd(p: Double) = kept(math.ceil(p * kept.length).toInt - 1)
    assert(got.map(_._1) == List(0.1, 0.5, 1.0))
    assert(got.map(_._2) == List(qd(0.1), qd(0.5), qd(1.0)))
    assert(qd(1.0) == kept.last)
    val empty = graft.ops.Sampling.sampleQuantiles(
      Seq.empty[(Long, Long)].toDF("k", "v"), "k", "v", 0.5, Seq(0.5))
    assert(empty.count() == 0)
  }

  test("exactQuantiles: distributed quantile_disc ranks match a local " +
      "sort under ties and skew; local-branch and rate=1.0 parity") {
    val s = init()
    import s.implicits._
    // duplicates + a heavy tie block, ranked across 7 range partitions
    val vals = (1L to 300L).map(i => (i * 61L) % 97L) ++ Seq.fill(50)(7L)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("k", "v")
    val probs = Seq(0.01, 0.25, 0.5, 0.75, 1.0)
    // force the DISTRIBUTED branch (the default gate would answer this
    // small fixture from the driver sort)
    val got = withConf(s)(ForceDist) {
      val got = graft.ops.Sampling.exactQuantiles(rows, "v", probs,
          numPartitions = 7)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
        .toList.sortBy(_._1)
      // the global rank is partition-count independent
      for (p <- Seq(1, 3, 32)) {
        val alt = graft.ops.Sampling.exactQuantiles(rows, "v", probs,
            numPartitions = p)
          .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
          .toList.sortBy(_._1)
        assert(alt == got, s"numPartitions=$p diverged")
      }
      got
    }
    val sortedVals = vals.map(_.toDouble).sorted
    def qd(p: Double) = sortedVals(math.ceil(p * sortedVals.length).toInt - 1)
    assert(got.map(_._1) == probs)
    assert(got.map(_._2) == probs.map(qd))
    assert(got.forall(_._3 == vals.length))
    // the size-gated LOCAL branch (default gate) is rank-identical
    val local = graft.ops.Sampling.exactQuantiles(rows, "v", probs)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .toList.sortBy(_._1)
    assert(local == got, "local branch diverged from distributed")
    // a gate SMALLER than the column still answers distributed, exactly
    withConf(s)("spark.graft.local.maxRows" -> "10") {
      val over = graft.ops.Sampling.exactQuantiles(rows, "v", probs)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
        .toList.sortBy(_._1)
      assert(over == got, "over-gate fallthrough diverged")
    }
    // the sampled op at rate 1.0 sees the identical multiset: same ranks
    val sampled = graft.ops.Sampling
      .sampleQuantiles(rows, "k", "v", 1.0, probs)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
      .toList.sortBy(_._1)
    assert(sampled == got.map(t => (t._1, t._2)))
    // nulls ignored; empty column yields no rows (both branches)
    val withNulls = Seq[(Long, java.lang.Long)]((1L, null), (2L, 5L))
      .toDF("k", "v")
    val one = graft.ops.Sampling.exactQuantiles(withNulls, "v", Seq(0.5))
      .collect().map(r => (r.getDouble(1), r.getLong(2))).toList
    assert(one == List((5.0, 1L)))
    assert(graft.ops.Sampling.exactQuantiles(
      Seq.empty[(Long, Long)].toDF("k", "v"), "v", Seq(0.5)).count() == 0)
    withConf(s)(ForceDist)(assert(graft.ops.Sampling.exactQuantiles(
      Seq.empty[(Long, Long)].toDF("k", "v"), "v", Seq(0.5)).count() == 0))
  }

  private def annRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3))).toSet

  test("recallAtK: hits over truth size per query; missing queries " +
      "score 0; all-lists IVF probe recalls 1.0 exactly") {
    val s = init()
    import s.implicits._
    // hand-built: q1 perfect, q2 half, q3 absent from approx, q4 has
    // no truth row and must not be scored
    val approx = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L),
      (2L, 99L, 2L), (4L, 40L, 1L)).toDF("query_id", "neighbor_id", "rank")
    val exact = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L),
      (2L, 21L, 2L), (3L, 30L, 1L)).toDF("query_id", "neighbor_id", "rank")
    val got = graft.ops.Similarity.recallAtK(approx, exact, k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toList.sortBy(_._1)
    assert(got == List((1L, 2L, 2L, 1.0), (2L, 1L, 2L, 0.5),
      (3L, 0L, 1L, 0.0)))
    // beyond-rank-k rows are ignored on both sides
    val k1 = graft.ops.Similarity.recallAtK(approx, exact, k = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toList.sortBy(_._1)
    assert(k1 == List((1L, 1.0), (2L, 1.0), (3L, 0.0)))
    // duplicate (query_id, neighbor_id) rows on either side must not
    // multiply join matches (recall can never exceed 1.0)
    val dup = graft.ops.Similarity.recallAtK(
      approx.union(approx), exact.union(exact), k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toList.sortBy(_._1)
    assert(dup == got.toList.sortBy(_._1), dup)
    // integration: probing EVERY list is exhaustive search, so recall
    // against brute force is exactly 1.0 for every query
    val emb = s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = graft.ops.Similarity.buildIvfIndex(emb, numCentroids = 8)
    try {
      val q = emb.filter(col("vec_id") < 10)
      val rep = graft.ops.Similarity.recallAtK(
        graft.ops.Similarity.searchIvf(idx, q, k = 5, nprobe = 8),
        graft.ops.Similarity.bruteForceTopK(q, emb, k = 5), k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(3)))
      assert(rep.length == 10 && rep.forall(_._2 == 1.0), rep.toList)
    } finally idx.release()
  }

  test("prebuilt IVF index: searches are bit-identical to one-shot " +
      "ivfTopK and survive repeated query batches") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    // over the gate the build persists + materializes: both frames carry
    // a storage level (under it they are local relations)
    val idx = withGate(s, 0L)(Similarity.buildIvfIndex(e, numCentroids = 8))
    try {
      assert(idx.centroids.storageLevel.useMemory ||
        idx.centroids.storageLevel.useDisk)
      assert(idx.corpus.storageLevel.useMemory ||
        idx.corpus.storageLevel.useDisk)
      val q1 = e.filter(col("vec_id") < 10)
      val q2 = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      // search-many over ONE build must equal one-shot builds per batch
      assert(annRows(Similarity.searchIvf(idx, q1, k = 5, nprobe = 4)) ==
        annRows(Similarity.ivfTopK(q1, e, k = 5, numCentroids = 8,
          nprobe = 4)))
      assert(annRows(Similarity.searchIvf(idx, q2, k = 3, nprobe = 2)) ==
        annRows(Similarity.ivfTopK(q2, e, k = 3, numCentroids = 8,
          nprobe = 2)))
    } finally idx.release()
    assert(idx.centroids.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("prebuilt IVF-PQ index: searches are bit-identical to one-shot " +
      "ivfPqTopK; release() unpersists all four frames") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val idx = Similarity.buildIvfPqIndex(e, numCentroids = 8, m = 2,
      ksub = 8, coarseIters = 1, pqIters = 1)
    try {
      val q1 = e.filter(col("vec_id") < 10)
      val q2 = e.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      assert(annRows(Similarity.searchIvfPq(idx, q1, k = 5, nprobe = 3)) ==
        annRows(Similarity.ivfPqTopK(q1, e, k = 5, numCentroids = 8,
          nprobe = 3, m = 2, ksub = 8, coarseIters = 1, pqIters = 1)))
      assert(annRows(Similarity.searchIvfPq(idx, q2, k = 4, nprobe = 2)) ==
        annRows(Similarity.ivfPqTopK(q2, e, k = 4, numCentroids = 8,
          nprobe = 2, m = 2, ksub = 8, coarseIters = 1, pqIters = 1)))
    } finally idx.release()
    Seq(idx.centroids, idx.lists, idx.codebooks, idx.codes).foreach(df =>
      assert(df.storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE))
    // the one-shot wrappers route their internal caches through OpCaches
    // (per-query release), never raw session-lifetime persists
    graft.OpCaches.releaseAll()
    assert(graft.OpCaches.trackedCount == 0)
  }

  test("IVF index built under the gate (local) searches as one built " +
      "over it (g = n - 1) after append, compact and save + load; " +
      "release on a local index is a no-op") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val half = e.filter(col("vec_id") % 2 === 0)
    val delta = e.filter(col("vec_id") % 2 === 1)
    val q = e.filter(col("vec_id") < 10)
    val n = half.count()
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_local")
      .toString
    def search(idx: Similarity.IvfIndex) =
      annRows(Similarity.searchIvf(idx, q, k = 5, nprobe = 3))
    def lifecycle(gate: Long): Seq[Any] = withGate(s, gate) {
      val built = Similarity.buildIvfIndex(half, numCentroids = 8)
      val local = built.corpus.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      Similarity.saveIvfIndex(built, dir)
      val loaded = Similarity.loadIvfIndex(s, dir)
      val saved = try search(loaded) finally loaded.release()
      built.release()
      val before = search(built)
      val appended = Similarity.appendToIvfIndex(built, delta)
      val afterAppend = search(appended)
      val flat = Similarity.compactIvfIndex(appended)
      try Seq(local, before, saved, afterAppend, search(flat))
      finally flat.release()
    }
    try {
      val Seq(dist, local) = Seq(n - 1, n).map(lifecycle)
      assert(!dist.head.asInstanceOf[Boolean] &&
        local.head.asInstanceOf[Boolean])
      assert(dist.tail == local.tail)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("appendToIvfIndex: frozen-quantizer append searches identically " +
      "to a full build over the same centroids") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val half = e.filter(col("vec_id") % 2 === 0)
    val delta = e.filter(col("vec_id") % 2 === 1)
    val idx0 = Similarity.buildIvfIndex(half, numCentroids = 8)
    val cents = idx0.centroids
    val appended = Similarity.appendToIvfIndex(idx0, delta)
    // public twin: a fresh build over the FULL corpus with the same
    // frozen centroids must search bit-identically
    val full = Similarity.buildIvfIndex(e, numCentroids = 8,
      centroids = Some(cents))
    try {
      val q = e.filter(col("vec_id") < 10)
      assert(annRows(Similarity.searchIvf(appended, q, k = 5)) ==
        annRows(Similarity.searchIvf(full, q, k = 5)))
      // delta vectors are really searchable (odd ids appear as neighbors)
      assert(Similarity.searchIvf(appended, q, k = 5)
        .filter(col("neighbor_id") % 2 === 1).count() > 0)
    } finally { appended.release(); full.release() }
  }

  test("compactIvf(Pq)Index: chained appends flatten to a union-free " +
      "plan and search bit-identically") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    // IVF: two appends, then compact
    val thirds = (0 to 2).map(i => e.filter(col("vec_id") % 3 === i))
    val idx = Similarity.appendToIvfIndex(
      Similarity.appendToIvfIndex(
        Similarity.buildIvfIndex(thirds(0), numCentroids = 8),
        thirds(1)), thirds(2))
    val want = annRows(Similarity.searchIvf(idx, q, k = 5))
    assert(idx.corpus.queryExecution.executedPlan.toString
      .contains("Union"))
    val flat = Similarity.compactIvfIndex(idx)
    assert(!flat.corpus.queryExecution.executedPlan.toString
      .contains("Union"))
    assert(annRows(Similarity.searchIvf(flat, q, k = 5)) == want)
    // append AFTER compact: the compact loop's whole point is
    // compact → append → search; a raw localCheckpoint here would trip
    // UnionBase.rewriteConstraints ("key not found") when the appended
    // union embeds the checkpointed frame (the CleanCheckpoint hazard)
    val e4 = e.withColumn("vec_id", col("vec_id") + 100000L)
      .filter(col("vec_id") % 7 === 0)
    val reAppended = Similarity.appendToIvfIndex(flat, e4)
    try {
      val twin = Similarity.buildIvfIndex(
        thirds.reduce(_ union _).unionByName(e4), numCentroids = 8,
        centroids = Some(reAppended.centroids))
      assert(annRows(Similarity.searchIvf(reAppended, q, k = 5)) ==
        annRows(Similarity.searchIvf(twin, q, k = 5)))
      twin.release()
    } finally reAppended.release()
    // IVF-PQ: one append, then compact
    val pq0 = Similarity.buildIvfPqIndex(thirds(0).union(thirds(1)),
      numCentroids = 8, m = 2, ksub = 8, coarseIters = 1, pqIters = 1)
    val pq = Similarity.appendToIvfPqIndex(pq0, thirds(2))
    val wantPq = annRows(Similarity.searchIvfPq(pq, q, k = 5, nprobe = 3))
    val flatPq = Similarity.compactIvfPqIndex(pq)
    try {
      assert(!flatPq.lists.queryExecution.executedPlan.toString
        .contains("Union"))
      assert(!flatPq.codes.queryExecution.executedPlan.toString
        .contains("Union"))
      assert(annRows(Similarity.searchIvfPq(flatPq, q, k = 5,
        nprobe = 3)) == wantPq)
    } finally flatPq.release()
  }

  test("release() on a compacted index frees its checkpoint blocks " +
      "(plain Dataset.unpersist is a silent no-op on LogicalRDD frames)") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val idx = Similarity.appendToIvfIndex(
      Similarity.buildIvfIndex(e.filter(col("vec_id") % 2 === 0),
        numCentroids = 8),
      e.filter(col("vec_id") % 2 === 1))
    val flat = Similarity.compactIvfIndex(idx)
    assert(flat.corpus.count() > 0)
    // pin the SPECIFIC checkpoint RDD id: asserting only that release()
    // removed *something* would pass even if releaseCheckpoint were a
    // no-op, because release() also unpersists the ordinary cached
    // centroids frame
    val ckptId = flat.corpus.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case other => fail(s"compacted corpus is not checkpoint-backed: " +
        s"${other.getClass.getSimpleName}")
    }
    assert(s.sparkContext.getPersistentRDDs.contains(ckptId),
      "checkpoint RDD must be persisted before release")
    flat.release()
    assert(!s.sparkContext.getPersistentRDDs.contains(ckptId),
      "release must drop the checkpoint RDD from the persistent-RDD map")
  }

  test("appendToIvfPqIndex: delta assigned/encoded under frozen " +
      "quantizers; merged state equals a full re-assignment") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val half = e.filter(col("vec_id") % 2 === 0)
    val delta = e.filter(col("vec_id") % 2 === 1)
    val idx0 = Similarity.buildIvfPqIndex(half, numCentroids = 8, m = 2,
      ksub = 8)
    val appended = Similarity.appendToIvfPqIndex(idx0, delta)
    try {
      // merged lists/codes must equal re-assigning the FULL corpus under
      // the (frozen) coarse centroids and PQ codebooks
      val expLists = Similarity.ivfAssign(e, appended.centroids)
        .select(col("vec_id"), col("centroid_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotLists = appended.lists.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotLists == expLists)
      val expCodes = Similarity.pqEncode(e, appended.codebooks, m = 2)
        .select(col("vec_id"), posexplode(col("codes")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val gotCodes = appended.codes.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(gotCodes == expCodes)
      // and the appended index is searchable end to end
      assert(Similarity.searchIvfPq(appended,
        e.filter(col("vec_id") < 10), k = 5, nprobe = 3).count() == 50)
    } finally appended.release()
  }

  test("redactPii spread is a no-op when the input already matches " +
      "session parallelism OR the scan is under the byte gate") {
    val s = init()
    val docs = s.read.parquet(s"$sf/documents.parquet")
    val target = s.sparkContext.defaultParallelism
    // pre-spread input (>= parallelism partitions): redactPii must add
    // NO exchange of its own — exactly the one we created survives
    val wide = docs.repartition(target)
    val pWide = TextAnalysis.redactPii(wide, "text")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(pWide).length == 1, pWide.take(600))
    // compact input UNDER the byte gate (sf0.001 documents is far below
    // the 3 MB default): the per-row pass is sub-second on one core, so
    // the exchange would cost more than the starvation it cures — no-op
    val pTiny = TextAnalysis.redactPii(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!pTiny.contains("Exchange"), pTiny.take(600))
    // compact input OVER the gate (threshold floored for the test):
    // exactly one round-robin spread
    withConf(s)("spark.graft.spread.minScanBytes" -> "1") {
      val pNarrow = TextAnalysis.redactPii(docs, "text")
        .queryExecution.executedPlan.toString
      assert("Exchange RoundRobinPartitioning".r
        .findAllIn(pNarrow).length == 1, pNarrow.take(600))
      // and the spread never changes results (multiset equality)
      val a = TextAnalysis.redactPii(docs, "text")
        .select("doc_id", "n_emails", "n_ips", "redacted_text")
        .collect().map(_.toString).sorted
      val b = TextAnalysis.redactPii(wide, "text")
        .select("doc_id", "n_emails", "n_ips", "redacted_text")
        .collect().map(_.toString).sorted
      assert(a.sameElements(b))
    }
  }

  test("searchIvfPq tolerates nprobe beyond the live list count") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val idx = Similarity.buildIvfPqIndex(e, numCentroids = 4, m = 2,
      ksub = 8)
    try {
      // nprobe larger than the number of coarse lists degrades to an
      // every-list scan — still queries x k rows, never an error
      val n = Similarity.searchIvfPq(idx,
        e.filter(col("vec_id") < 5), k = 3, nprobe = 64).count()
      assert(n == 15, s"got $n")
    } finally idx.release()
  }

  test("IVF-PQ index save/load round-trip: a loaded index searches " +
      "identically without touching the corpus") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_idx").toString
    val built = Similarity.buildIvfPqIndex(e, numCentroids = 8, m = 2,
      ksub = 8)
    try {
      Similarity.saveIvfPqIndex(built, dir)
      val loaded = Similarity.loadIvfPqIndex(s, dir)
      try {
        assert(loaded.m == 2 && loaded.ksub == 8)
        val q = e.filter(col("vec_id") < 10)
        assert(annRows(Similarity.searchIvfPq(loaded, q, k = 5,
            nprobe = 3)) ==
          annRows(Similarity.searchIvfPq(built, q, k = 5, nprobe = 3)))
      } finally loaded.release()
    } finally {
      built.release()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("IVF index save/load round-trip: a loaded index searches " +
      "identically; a manifest-less (torn) path refuses to load") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_idx").toString
    val built = Similarity.buildIvfIndex(e, numCentroids = 8)
    try {
      Similarity.saveIvfIndex(built, dir)
      val loaded = Similarity.loadIvfIndex(s, dir)
      try {
        val q = e.filter(col("vec_id") < 10)
        assert(annRows(Similarity.searchIvf(loaded, q, k = 5,
            nprobe = 3)) ==
          annRows(Similarity.searchIvf(built, q, k = 5, nprobe = 3)))
      } finally loaded.release()
      // torn-save simulation: a crash before the manifest write leaves
      // data dirs but no commit marker — the loader must refuse, not
      // serve a possibly-inconsistent index
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/manifest"))
      val err = intercept[IllegalArgumentException](
        Similarity.loadIvfIndex(s, dir))
      assert(err.getMessage.contains("manifest"))
    } finally {
      built.release()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("IVF-PQ loader refuses a manifest-less (torn) save") {
    val s = init()
    val e = s.read.parquet(s"$sf/embeddings.parquet")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_torn").toString
    val built = Similarity.buildIvfPqIndex(e, numCentroids = 4, m = 2,
      ksub = 8)
    try {
      Similarity.saveIvfPqIndex(built, dir)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/manifest"))
      val err = intercept[IllegalArgumentException](
        Similarity.loadIvfPqIndex(s, dir))
      assert(err.getMessage.contains("manifest"))
    } finally {
      built.release()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }
}
