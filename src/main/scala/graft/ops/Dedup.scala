package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB posture: hash-partitioned group-bys and bucket-joins only —
  * no cross joins over the full corpus. MinHash-LSH on at most
  * `PathFinder.localMaxArrayRows` (65536) documents (and at most `spark.graft.local.maxRows`) is one collect
  * plus a driver kernel instead; every other operator keeps no
  * driver-side state.
  *
  *  - exact:       one shuffle on a 128-bit content hash
  *  - MinHash+LSH: shingle → k minhashes → b bands → bucket join; only
  *    bucket-colliding pairs are verified (candidate set ≪ n²)
  *  - SimHash:     64-bit sketch; near-dups = small Hamming distance within
  *    rotated-band buckets
  *  - n-gram Jaccard: exact verified similarity on candidate pairs
  */
object Dedup {

  /** Exact dedup key (md5 of normalized text). */
  def exactKey(text: Column): Column =
    graft.ops.TextAnalysis.fingerprintMd5(text) // ONE content-key definition

  /** Marks each row with the canonical (minimum) id of its exact-duplicate
    * group. One shuffle; map-side combine via min aggregation. (A
    * skinny-projection + join-back-by-id variant was measured 3× slower
    * here — the extra text scan and id join cost more than the window's
    * in-partition sort saves, at sf1 and in the 100 TB shape alike.) */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("__key")
    df.withColumn("__key", exactKey(col(textCol)))
      // null text is UNKNOWN content, not equal content: each null row is
      // its own canonical (the window would lump all nulls into one
      // partition and silently discard every null doc but one)
      .withColumn("canonical_id",
        when(col("__key").isNull, col(idCol))
          .otherwise(min(col(idCol)).over(w)))
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
      .drop("__key")
  }

  /** Word k-shingles (k consecutive tokens joined by a space) — fused
    * codegen'd pass ([[graft.functions.WordShingles]]); fewer than k
    * tokens degrade to one whole-text shingle. */
  def shingles(text: Column, k: Int): Column =
    graft.functions.VectorFunctions.word_shingles(
      TextAnalysis.tokens(lower(text)), k)

  /** Exact Jaccard similarity of the distinct shingle sets of two texts;
    * null when either set is null (`array_size`, unlike `size`, never
    * reads a null set as −1 elements). */
  def jaccard(a: Column, b: Column): Column = {
    val ia = array_size(array_intersect(a, b)).cast("double")
    val ua = array_size(array_union(a, b)).cast("double")
    when(ua === 0, lit(0.0)).otherwise(ia / ua)
  }

  /** SQL-portable 31-bit content hash: md5's first 48 bits mod 2^31−1.
    * md5 instead of xxhash64 so the WHOLE minhash pipeline — signatures,
    * bands, candidate generation — is exactly reproducible by any engine
    * with `md5()` (the same move the rolling fingerprint made): the
    * driver's DuckDB oracle replays it end-to-end instead of settling
    * for a precision-only gate. */
  def portableHash31(s: Column): Column =
    pmod(conv(substring(md5(s), 1, 12), 16, 10).cast("long"),
      lit(2147483647L))

  /** SQL-portable 64-bit token hash: md5's first 16 hex chars assembled
    * from two 32-bit halves (`hi << 32 | lo` — bitwise, so the sign bit
    * is a bit pattern, never an overflow). */
  def portableHash64(t: Column): Column =
    shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long"))

  /** Triangular blocked self-join within buckets — the hot-bucket SKEW
    * guard for the banded LSH joins. A plain (bucket = bucket) self-join
    * evaluates one bucket's n²/2 candidate pairs inside a single task (an
    * equi-join key cannot be split), so one 20k-member bucket at corpus
    * scale becomes a 200M-pair straggler. Here each bucket's members are
    * row-numbered (ordered by id), split into blocks of `blockSize`, and
    * the triangular block pairs (bi ≤ bj) are equi-joined on
    * (bucket, bi, bj) — ceil(n/B)²/2 independent join cells of ≤ B²
    * candidates each, schedulable across the whole cluster. When a probe
    * shows NO bucket exceeds blockSize, the plain bucket self-join runs
    * instead (same semantics, same per-task bound, none of the
    * row_number/explode scaffolding).
    *
    * Output: one row per unordered member pair (`x.id < y.id`) — exact,
    * no pair lost or duplicated: a (bi < bj) pair joins only at cell
    * (bi, bj); a same-block pair only at the diagonal cell, id-filtered.
    *
    * @param banded   bucketed rows carrying `id`, the bucket key columns,
    *                 and any payload columns the verifier needs
    * @param bucketCols the bucket key
    * @return the joined frame with `x.*` / `y.*` aliases for the caller's
    *         verification projection
    */
  def blockedBucketJoin(banded: DataFrame,
      bucketCols: Seq[String], blockSize: Int = 1024): DataFrame = {
    val bks = bucketCols.map(col)
    // Adaptive probe: one map-side-combined count of the largest bucket.
    // When NO bucket exceeds blockSize, every row lands in block 0 and
    // the blocked construction degenerates to the plain bucket self-join
    // — but its scaffolding (a row_number sort per bucket plus two
    // explode legs and a 3-condition join) still costs real time, and
    // the window sort of the FULL input is the dominant term (measured:
    // bipartite co-purchase at the 10x point 17.3 s blocked vs the
    // direct join's hash-only plan). Take the direct join in that case;
    // per-task candidates stay ≤ blockSize² by the same argument (every
    // bucket ≤ blockSize members). Callers keep `banded` persisted (all
    // six call sites do), so the probe is one cached-scan aggregation —
    // at cluster scale it is noise next to either join.
    val maxBucket = banded.groupBy(bks: _*)
      .agg(count(lit(1)).as("__c")).agg(max(col("__c"))).first()
    if (maxBucket.isNullAt(0) || maxBucket.getLong(0) <= blockSize)
      // SHUFFLE_HASH: Catalyst otherwise plans a sort-merge join, which
      // sorts BOTH 2×-the-corpus legs by bucket for a join whose probe
      // side is bounded per bucket anyway (≤ blockSize members — the
      // probe just proved it). Hash-partitioned build tables skip both
      // sorts; measured ~17% off the q114 wedge join at the 10× point.
      return banded.as("x").hint("SHUFFLE_HASH").join(
        banded.as("y").hint("SHUFFLE_HASH"),
        bucketCols.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
          col("x.id") < col("y.id"))
    val w = Window.partitionBy(bks: _*).orderBy(col("id"))
    val base = banded
      .withColumn("__blk",
        ((row_number().over(w) - 1) / blockSize).cast("long"))
      .withColumn("__nblk",
        ceil(count(lit(1)).over(Window.partitionBy(bks: _*)) /
          lit(blockSize.toDouble)).cast("long"))
    val left = base.withColumn("__bj",
      explode(sequence(col("__blk"), col("__nblk") - 1)))
    val right = base.withColumn("__bi",
      explode(sequence(lit(0L), col("__blk"))))
    left.as("x").join(right.as("y"),
      bucketCols.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
        col("x.__bj") === col("y.__blk") &&
        col("x.__blk") === col("y.__bi") &&
        col("x.id") < col("y.id"))
  }

  /** `numHashes` MinHash values of a shingle array. Permutation family
    * h_i(x) = (a_i * ([[portableHash31]](x)) + b_i) mod p with p = 2^31−1 —
    * deterministic and seedless; intermediates stay < 2^62 so the
    * expressions are safe under ANSI overflow checking. */
  def minHashes(shingleArr: Column, numHashes: Int): Column =
    minHashesFromHashed(
      graft.functions.VectorFunctions.md5_hash31_array(shingleArr),
      numHashes)

  /** MinHash from pre-hashed shingles: one fused codegen'd loop computing
    * all `numHashes` permutation minima
    * ([[graft.functions.MinHashSignature]]). */
  def minHashesFromHashed(hashedArr: Column, numHashes: Int): Column =
    graft.functions.VectorFunctions.minhash_signature(hashedArr, numHashes)

  /** MinHash-LSH near-duplicate pairs.
    *
    * Both branches read ONE key projection ([[lshKeys]]), so their
    * buckets are the same by construction. An input of at most
    * [[graft.graph.PathFinder.localMaxArrayRows]] documents, and at most
    * `spark.graft.local.maxRows`, is that projection's one gated
    * collect ([[graft.graph.PathFinder.collectUnder]]) plus a driver
    * kernel ([[localLshPairs]]); a bigger input, or one whose kept
    * buckets hold more candidate pairs than `spark.graft.local.maxRows`,
    * runs the banded bucket join.
    *
    * @param threshold verified Jaccard threshold
    * @param numHashes minhash signature width
    * @param bands LSH bands (rows per band = numHashes / bands)
    * @param maxBucketSize skew guard: LSH buckets larger than this are
    *   dropped before the candidate join (a bucket of size b creates b²/2
    *   candidates; at corpus scale one hot bucket would dominate the whole
    *   job). Standard large-scale LSH practice — documents in an
    *   over-full bucket are still paired through their other bands.
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.7, maxBucketSize: Int = 20000): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must divide numHashes (got numHashes=$numHashes, " +
        s"bands=$bands) — otherwise band slices are empty or drop " +
        "trailing hashes and the bucketing silently degenerates")
    val keys = lshKeys(df, idCol, textCol, shingleK, numHashes, bands)
    val spark = df.sparkSession
    val gate = graft.graph.PathFinder.localMaxRows(spark)
    val idType = keys.schema("id").dataType
    val local =
      if (!graft.graph.PathFinder.atomic(idType)) None
      else graft.graph.PathFinder.collectUnder(keys,
          math.min(gate, graft.graph.PathFinder.localMaxArrayRows)).flatMap(
        localLshPairs(_, idType, bands, maxBucketSize, threshold, gate))
    local.map { rows =>
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("id_a", idType), StructField("id_b", idType),
        StructField("jaccard", DoubleType))))
    }.getOrElse(bucketJoinPairs(keys, bands, maxBucketSize, threshold))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The key projection of [[minHashLshPairs]]: `id`, the distinct
    * hashed shingle set `hv` (`array<bigint>`; verification runs on it —
    * the same Jaccard as the string sets up to negligible 2^31 hash
    * collisions, far cheaper to intersect) and, per band b, the bucket
    * key `__b<b>` = `hash(slice(sig, b·rows + 1, rows), b)`. Null text ⇒
    * null `hv`, which never verifies. */
  private def lshKeys(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    df.select(col(idCol).as("id"),
        graft.functions.VectorFunctions.md5_hash31_array(
          array_distinct(shingles(col(textCol), shingleK))).as("hv"))
      .select(col("id"), array_distinct(col("hv")).as("hv"),
        minHashesFromHashed(col("hv"), numHashes).as("sig"))
      .select(col("id") +: col("hv") +: (0 until bands).map(b =>
        hash(slice(col("sig"), b * rows + 1, rows), lit(b)).as(s"__b$b")): _*)
  }

  /** Distributed branch of [[minHashLshPairs]]: explode the keys into
    * (band, bucket) rows, drop singleton and over-full buckets, join
    * within buckets, verify, dedup. Returns the unrounded Jaccard. */
  private def bucketJoinPairs(keys: DataFrame, bands: Int,
      maxBucketSize: Int, threshold: Double): DataFrame = {
    // tracked: the size probe, the kept-bucket join and both join legs
    // read it, and the lazy result cannot release it
    val banded = graft.OpCaches.track(keys.select(col("id"), col("hv"),
        posexplode(array((0 until bands).map(b => col(s"__b$b")): _*)))
      .select(col("id"), col("hv"), col("pos").as("band"),
        col("col").as("bucket")))
    val keepBuckets = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize && col("__bsz") > 1)
      .select("band", "bucket")
    // plain equi-join on (band,bucket): AQE picks broadcast when the kept
    // bucket list is small; the filter removes singleton and hot buckets
    val bandedKept = banded.join(keepBuckets, Seq("band", "bucket"))
    // verify BEFORE the pair dedup: jaccard is a pure per-pair function
    // (identical on every shared-band copy), so filtering first is
    // semantics-preserving — and the dropDuplicates shuffle then carries
    // only the few surviving (id, id, jaccard) rows instead of every
    // band collision WITH both hashed shingle arrays. At corpus scale
    // candidate pairs grow quadratically inside hot buckets; shipping
    // their arrays through an exchange was the q20 slope bottleneck at
    // the 10x bench point.
    blockedBucketJoin(bandedKept, Seq("band", "bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        jaccard(col("x.hv"), col("y.hv")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Driver kernel of [[minHashLshPairs]] over the collected [[lshKeys]]
    * (id, hv, one bucket key per band): the distributed branch's rules on
    * arrays. Per band, one sort of (key, row) runs the buckets; a bucket
    * of s rows is kept iff 1 < s ≤ `maxBucketSize`, null ids counted.
    * Pairs are `id_a < id_b` (null ids never pair), verified by merging
    * the sorted hashed sets and deduplicated by id. None — the
    * distributed branch — when the kept buckets hold more than
    * `maxCandidates` candidate pairs (Σ s(s−1)/2, summed before any pair
    * work, so one hot bucket cannot stall the driver). Rows are (id_a,
    * id_b, unrounded jaccard). */
  private def localLshPairs(c: graft.graph.PathFinder.Columns,
      idType: org.apache.spark.sql.types.DataType, bands: Int,
      maxBucketSize: Int, threshold: Double, maxCandidates: Long)
      : Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
    val n = c.length
    // hv's elements are never null (array<bigint not null>)
    val sets = c.values(1).map {
      case a: ArrayData =>
        val xs = a.toLongArray(); java.util.Arrays.sort(xs); xs
      case _ => null
    }
    // rank of each row's id (equal ids share one), -1 for a null id
    val ids = c.values(0)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val byId = (0 until n).filter(ids(_) != null)
      .sortWith((a, b) => ord.lt(ids(a), ids(b)))
    val rank = Array.fill(n)(-1)
    byId.indices.foreach { k =>
      rank(byId(k)) = if (k == 0) 0
        else if (ord.equiv(ids(byId(k - 1)), ids(byId(k)))) rank(byId(k - 1))
        else rank(byId(k - 1)) + 1
    }
    // per band, (bucket key, row) sorted; the kept buckets are runs
    // [start, end) of equal keys
    val runs = (0 until bands).map { b =>
      val key = c.values(2 + b)
      val kr = Array.tabulate(n)(i =>
        (key(i).asInstanceOf[Int].toLong << 32) | i)
      java.util.Arrays.sort(kr)
      val kept = Array.newBuilder[(Int, Int)]
      var start = 0
      while (start < n) {
        var end = start + 1
        while (end < n && (kr(end) >>> 32) == (kr(start) >>> 32)) end += 1
        if (end - start > 1 && end - start <= maxBucketSize)
          kept += ((start, end))
        start = end
      }
      (kr, kept.result())
    }
    val candidates = runs.iterator.flatMap(_._2).map { case (a, z) =>
      (z - a).toLong * (z - a - 1) / 2 }.sum
    if (candidates > maxCandidates) return None
    // candidate row pairs, lower-id row in the high half
    val pairs = Array.newBuilder[Long]
    for ((kr, kept) <- runs; (a, z) <- kept; x <- a until z;
        y <- x + 1 until z) {
      val (i, j) = (kr(x).toInt, kr(y).toInt)
      if (rank(i) >= 0 && rank(j) >= 0 && rank(i) != rank(j))
        pairs += (if (rank(i) < rank(j)) i.toLong << 32 | j
          else j.toLong << 32 | i)
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    val seen = scala.collection.mutable.LongMap.empty[Unit]
    Some(pairs.result().distinct.toSeq.flatMap { p =>
      val (i, j) = ((p >>> 32).toInt, p.toInt)
      val idPair = rank(i).toLong << 32 | rank(j)
      jaccardOfSorted(sets(i), sets(j)).filter(jac =>
          jac >= threshold && !seen.contains(idPair))
        .map { jac =>
          seen(idPair) = ()
          org.apache.spark.sql.Row(toScala(ids(i)), toScala(ids(j)), jac)
        }
    })
  }

  /** [[jaccard]] of two sorted distinct long sets; None when either is
    * null. */
  private def jaccardOfSorted(a: Array[Long], b: Array[Long])
      : Option[Double] =
    if (a == null || b == null) None
    else {
      var (i, j, inter) = (0, 0, 0)
      while (i < a.length && j < b.length)
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { inter += 1; i += 1; j += 1 }
      val union = a.length + b.length - inter
      Some(if (union == 0) 0.0 else inter.toDouble / union.toDouble)
    }

  /** 64-bit SimHash over [[portableHash64]] token values: sign-sum of
    * each bit weighted by token frequency. */
  def simHash(text: Column): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    val hashes = transform(toks, t => portableHash64(t))
    // for each bit position, majority vote; build the long via sum of 2^i
    val bits = (0 until 64).map { i =>
      val ones = size(filter(hashes,
        h => shiftright(h, i).bitwiseAND(lit(1L)) === 1L))
      when(ones * 2 > size(hashes), lit(1L).cast("long") * lit(1L << i))
        .otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two 64-bit sketches. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash signatures as a fused per-row codegen projection
    * ([[graft.functions.SimHashBits]]): a signature is a pure function of
    * one document's token list, so it needs no explode, no shuffle, and
    * no aggregation — the previous explode + imperative-aggregate form
    * ([[graft.functions.SimHashAgg]], kept for streaming/grouped inputs
    * where tokens genuinely arrive as rows) shuffled every token of the
    * corpus. Null text ⇒ signature 0 (empty-token semantics). */
  def simHashSignatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.simhash_bits(
        coalesce(TextAnalysis.tokens(lower(col(textCol))),
          array().cast("array<string>"))).as("sig"))

  /** SimHash near-dup pairs: block on 4 × 16-bit bands (a pair within
    * Hamming distance ≤ maxDist ≤ 3 must agree on ≥1 band), verify by
    * exact Hamming distance. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucketSize: Int = 20000): DataFrame = {
    // 4 bands of 16 bits guarantee a shared band only for Hamming ≤ 3
    // (pigeonhole); a larger radius would silently lose recall
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist must be in [0, 3] for 4-band blocking (got $maxDist)")
    val withSig = simHashSignatures(df, idCol, textCol)
    // tracked: the size probe, the kept-bucket join and both join legs
    // read it, and the lazy result cannot release it
    val banded0 = graft.OpCaches.track(withSig.select(col("id"), col("sig"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .select(col("id"), col("sig"), col("pos").as("band"),
        col("col").as("bucket")))
    val keep = banded0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize && col("__bsz") > 1)
      .select("band", "bucket")
    val banded = banded0.join(keep, Seq("band", "bucket"))
    // Hamming verify BEFORE the pair dedup (pure per-pair function,
    // identical across shared-band copies): the dedup exchange then
    // carries the ~0.1% survivors, not every quadratic band collision —
    // see minHashLshPairs for the rationale
    blockedBucketJoin(banded, Seq("band", "bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hamming64(col("x.sig"), col("y.sig")).as("dist"))
      .filter(col("dist") <= maxDist)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "dist")
  }

  /** Collapses near-duplicate *pairs* into duplicate *groups*: connected
    * components over the pair graph (transitive closure — a≈b and b≈c put
    * a,b,c in one group even if a,c never collided), canonical id = min
    * member. Composes the LSH pair finders with the graph engine's WCC —
    * the standard production shape for corpus-scale dedup.
    *
    * @param all (id) — every document id (singletons get their own group)
    * @param pairs (id_a, id_b) near-duplicate pairs
    * @return (id, canonical_id, is_duplicate)
    */
  def duplicateGroups(all: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = graft.graph.Algorithms.weaklyConnectedComponents(
      all.select(col(all.columns.head).cast("long").as("id")),
      pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst")))
    comp.select(col("id"), col("component").as("canonical_id"),
      (col("id") =!= col("component")).as("is_duplicate"))
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold, as an explode/equi-join:
    * |A∩B| via a shingle-keyed self-join with map-side combine, |A∪B| from
    * per-doc set sizes — the shape that scales (shuffle on shingle, then on
    * pair) instead of a nested-loop pair join evaluating set intersections.
    * Pairs with zero overlap never materialize (their Jaccard is 0 <
    * threshold).
    *
    * @param maxDocFreq skew guard on the join key (the analogue of
    *   `maxBucketSize` in the LSH paths): a shingle contained in m
    *   documents contributes m²/2 join rows, so one hot shingle ("the")
    *   would dominate the whole job at corpus scale. Shingles with
    *   document frequency above the cap are dropped BEFORE the self-join;
    *   affected pairs lose those shingles from the intersection (union
    *   sizes keep the full sets), so reported Jaccard is a lower bound —
    *   conservative for a ≥-threshold filter on near-dup shingles, which
    *   are precisely the ones that are NOT corpus-hot. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Int = 100000): DataFrame = {
    require(threshold > 0.0, "threshold must be positive")
    // tracked: the hot-shingle count and both self-join legs read it
    val base = graft.OpCaches.track(df.select(col(idCol).as("id"),
        array_distinct(shingles(col(textCol), k)).as("sh"))
      .withColumn("sz", size(col("sh"))))
    val toks0 = base.select(col("id"), col("sz"), explode(col("sh")).as("s"))
    val hot = toks0.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocFreq).select("s")
    // hot set is tiny by construction (few shingles exceed a large cap) —
    // broadcast anti-join, no shuffle of the exploded relation
    val toks = toks0.join(broadcast(hot), Seq("s"), "left_anti")
    val inter = toks.as("x").join(toks.as("y"),
        col("x.s") === col("y.s") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"), first(col("x.sz")).as("sz_a"),
        first(col("y.sz")).as("sz_b"))
    inter.select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact edit-distance pair join (record linkage / fuzzy dedup): every
    * unordered pair with `levenshtein ≤ maxDist`, found via PassJoin
    * segment blocking ([[graft.functions.PassJoinKeys]]) — zero false
    * negatives by the pigeonhole argument, so the result is EXACT while
    * candidates stay ≪ n² on selective strings. Designed for short keys
    * (names, titles, line heads): verification is an O(len·maxDist)
    * banded DP via Spark's thresholded `levenshtein`.
    *
    * Plan: segments ⋈ probes on the (length, segIdx, content) struct —
    * one shuffle each side — then DISTINCT pairs (a pair can collide on
    * several keys) and the levenshtein verify. Skew: a segment shared by
    * a constant prefix ("Customer#…") degenerates toward all-pairs for
    * SAME-LENGTH strings — on such data pick a more selective column or
    * shrink maxDist (the key carries length and position, so mixed-length
    * corpora never collapse into one bucket). Ids must be unique;
    * null strings drop out.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    import graft.functions.PassJoinFunctions.{passjoin_probes, passjoin_segments}
    val base = df.select(col(idCol).as("__eid"), col(strCol).as("__es"))
      .filter(col("__es").isNotNull)
    val idx = base.select(col("__eid"), col("__es"),
      explode(passjoin_segments(col("__es"), maxDist)).as("__k"))
    val prb = base.select(col("__eid").as("__pid"), col("__es").as("__ps"),
      explode(passjoin_probes(col("__es"), maxDist)).as("__k2"))
    // the lemma finds every true pair from EITHER side's segments, so
    // orienting the join (a < b) loses nothing and halves the work
    idx.join(prb, col("__k") === col("__k2") && col("__eid") < col("__pid"))
      .select(col("__eid").as("id_a"), col("__pid").as("id_b"),
        col("__es"), col("__ps"))
      .distinct()
      .withColumn("dist", expr(s"levenshtein(__es, __ps, $maxDist)"))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
