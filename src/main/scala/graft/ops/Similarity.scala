package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

import graft.functions.VecMath
import graft.graph.PathFinder

/** Embedding similarity search.
  *
  * Brute-force cosine top-k is the exactness baseline (one broadcast join
  * of the query set against the corpus — the corpus is never collected).
  * The scale path is LSH bucketing (random-hyperplane signs) which turns
  * all-pairs search into a bucket-equi-join — the same shuffle pattern that
  * holds at 100 TB.
  */
object Similarity {

  /** Codegen'd kernels (graft.functions.VectorExpressions) — bit-identical
    * summation order to the former `aggregate(zip_with(...))` forms, ~two
    * orders of magnitude faster on 64-dim embeddings. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  def norm(a: Column): Column =
    graft.functions.VectorFunctions.vec_norm(a)

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Cosine with precomputed norms — bit-identical arithmetic to
    * [[cosine]] (`dot / (normA * normB)`), but the norms are computed once
    * per row instead of once per pair. */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column = {
    val d = normA * normB
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Per-vector symmetric int8 quantization — the standard 4x storage
    * reduction for a 100 TB embedding store: each vector gets its own
    * [min, max] range mapped affinely onto [-128, 127]. The range
    * columns are materialized BEFORE the per-element lambda so the
    * lambda body only references bound columns (a lambda that computes
    * `array_min(vec)` inline re-evaluates it per element — the q73
    * lesson). Constant vectors (max = min) map to code 0. Pure per-row
    * Columns, exchange-free, engine-portable arithmetic (the affine
    * map rounds a non-negative value, where HALF_UP and
    * round-half-away-from-zero agree).
    *
    * @return input plus (q_min, q_max, q_codes: array<int> in [-128,127])
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.withColumn("q_min", array_min(v))
      .withColumn("q_max", array_max(v))
      .withColumn("q_codes",
        when(col("q_max") === col("q_min"),
          transform(v, _ => lit(0).cast("int")))
          .otherwise(transform(v, x =>
            (round((x - col("q_min")) * lit(255.0) /
              (col("q_max") - col("q_min"))) - lit(128)).cast("int"))))
  }

  /** Inverse of [[quantizeInt8]]: reconstruct approximate doubles from
    * codes + range (max error = half a quantization step per
    * component). */
  def dequantizeInt8(codes: Column, qMin: Column, qMax: Column): Column =
    when(qMax === qMin, transform(codes, _ => qMin))
      .otherwise(transform(codes, c =>
        qMin + (c.cast("double") + lit(128.0)) * (qMax - qMin) / lit(255.0)))

  /** Exact top-k cosine neighbors for each row of `queries` against
    * `corpus`. Join is broadcast when the query set is small; ranking is a
    * window per query id (map-side partial top-k via AQE).
    *
    * @return (query_id, neighbor_id, rank, cosine)
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosinePre(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 (seed 42, same as the SQL function) → uniform in [-1, 1).
    * Evaluated eagerly driver-side so hyperplanes are plan constants —
    * zero per-row hashing. */
  private def planeComponent(plane: Int, dim: Int): Double = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        plane.toLong * 1000003L + dim)), 42L).eval(null).asInstanceOf[Long]
    val m = ((h % 1000000L) + 1000000L) % 1000000L
    m.toDouble / 500000.0 - 1.0
  }

  /** The constant hyperplane matrix for a signature: `planes` rows of
    * `dims` components. Public so the driver's oracle SQL can embed the
    * SAME constants and replay the bucketing independently. */
  def planeMatrix(planes: Int, dims: Int = 64,
      planeOffset: Int = 0): Seq[Seq[Double]] =
    (0 until planes).map(p =>
      (0 until dims).map(d => planeComponent(planeOffset + p, d)))

  /** Sign-bit LSH signature: `planes` constant hyperplanes (dim `dims`)
    * → one long, via the fused codegen'd
    * [[graft.functions.HyperplaneSignBits]] expression (one primitive
    * loop per row; the former `aggregate(zip_with(...))` form evaluated
    * `planes` interpreted per-element lambdas). */
  def signatureLsh(vec: Column, planes: Int, dims: Int = 64,
      planeOffset: Int = 0): Column =
    graft.functions.VectorFunctions.lsh_sign_bits(vec,
      planeMatrix(planes, dims, planeOffset))

  /** LSH-bucketed approximate near-neighbor pairs with cosine ≥ threshold.
    * Pairs must collide on at least one of `tables` independent
    * `planes`-bit signatures; collisions are verified exactly.
    *
    * @param dims hyperplane width — must be ≥ the embedding dimension, or
    *             bucketing silently ignores the tail components and
    *             recall drops for similarity living there
    * @return (id_a, id_b, cosine) with id_a < id_b
    */
  def lshNearPairs(df: DataFrame, threshold: Double, planes: Int = 12,
      tables: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding", maxBucketSize: Int = 20000,
      dims: Int = 64): DataFrame = {
    // the table tag lives in bits 60+; signature bits must stay below it
    require(planes >= 1 && planes < 60,
      s"planes must be in [1, 59] (got $planes)")
    require(dims >= 1, s"dims must be positive (got $dims)")
    val base = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      // norms once per ROW here — cosinePre below runs once per candidate
      // PAIR, where recomputing them would triple the vector work
      .withColumn("n", norm(col("v")))
    val sigs0 = base.select(col("id"), col("v"), col("n"),
        posexplode(array((0 until tables).map(t =>
          signatureLsh(col("v"), planes, dims, planeOffset = t * planes) +
            lit(t.toLong << 60)): _*)))
      .select(col("id"), col("v"), col("n"), col("col").as("bucket"))
      // tracked, not bare-persisted: the result is lazy, so release is
      // the harness's job via graft.OpCaches.releaseAll() (Verify/Bench
      // call it per query) — otherwise repeated invocations accumulate
      // cached signature blocks for the session lifetime
      .transform(graft.OpCaches.track(_))
    // skew guard: drop singleton and over-full buckets (see Dedup)
    val keep = sigs0.groupBy("bucket").agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") <= maxBucketSize && col("__bsz") > 1)
      .select("bucket")
    val sigs = sigs0.join(keep, Seq("bucket"))
    // cosine verify BEFORE the pair dedup (pure per-pair function,
    // identical in every shared bucket): the dedup exchange then carries
    // the few surviving (id, id, cosine) rows instead of every bucket
    // collision WITH both full embedding vectors — the quadratic-growth
    // shuffle the 10x bench point exposed (see Dedup.minHashLshPairs)
    Dedup.blockedBucketJoin(sigs, Seq("bucket"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosinePre(col("x.v"), col("y.v"), col("x.n"), col("y.n"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Deterministic coarse centroids for IVF: vectors are hashed into `k`
    * groups and averaged per dimension (a seedless k-means initialization;
    * one shuffle on (group, dim)). A vector with a null id names no group
    * and is skipped. Returns (centroid_id, vec). */
  def coarseCentroids(df: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    df.where(col(idCol).isNotNull)
      .select(pmod(col(idCol), lit(k)).as("centroid_id"),
        posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(avg("col").as("v"))
      .groupBy("centroid_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        s => s.getField("v")).as("vec"))

  /** Lloyd's k-means over embedding vectors — the trainer behind a real
    * IVF index (hash-mod [[coarseCentroids]] is an init, not a fit).
    * Deterministic end to end: init = [[coarseCentroids]]; each
    * iteration assigns every vector to its nearest centroid by cosine
    * (spherical k-means — the metric [[ivfTopK]] retrieves with, so the
    * trained cells match the search geometry) and recomputes per-dim
    * means. Centroid components are ROUNDED to `roundDecimals` after
    * init and after every recompute, so an independent engine replaying
    * the iterations from the same parquet computes every assignment
    * from bit-identical centroid constants (cross-engine float-sum
    * order divergence is ~1e-15, far below the rounding).
    *
    * A cluster that receives no members simply disappears (group-by
    * semantics — the same thing an SQL replay produces); with hash-mod
    * init every cluster starts non-empty.
    *
    * Scale shape: one broadcast of the k×dims centroid table per
    * iteration + one shuffle on (centroid_id, pos) for the recompute —
    * the corpus is never collected and never re-shuffled on its own
    * key. `iters` is a handful; each iteration is two narrow stages.
    *
    * @return (centroid_id, vec) — the trained centroid table, directly
    *         consumable by [[ivfAssign]] / the `centroids` overload of
    *         IVF search
    */
  def kMeans(df: DataFrame, k: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", roundDecimals: Int = 6): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    require(iters >= 0, s"iters must be non-negative (got $iters)")
    val roundVec = (c: DataFrame) => c.withColumn("vec",
      transform(col("vec"), x => round(x, roundDecimals)))
    var cents = roundVec(coarseCentroids(df, k, idCol, vecCol))
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(df, cents, idCol, vecCol)
      cents = roundVec(assigned
        .select(col("centroid_id"),
          posexplode(col(vecCol).cast("array<double>")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg("col").as("v"))
        .groupBy("centroid_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("vec")))
    }
    cents
  }

  /** IVF approximate top-k: corpus rows are bucketed by nearest centroid;
    * each query scans only its `nprobe` closest inverted lists — the
    * classic ANN structure, expressed as two joins (assignment is a
    * broadcast of the centroid table; search shuffles on centroid_id).
    * Argument order matches [[bruteForceTopK]] (queries first) — the two
    * frames have identical types, so a swapped call would compile and
    * silently return wrong neighbor sets. A corpus under the gate is
    * [[buildIvfIndex]]'s local index plus [[searchIvf]].
    * @return (query_id, neighbor_id, rank, cosine)
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[DataFrame] = None): DataFrame =
    localIvfIndex(corpus, numCentroids, idCol, vecCol, centroids) match {
      case Some(index) => searchIvf(index, queries, k, nprobe, idCol, vecCol)
      case None =>
        // tracked, not bare-persisted: the result is lazy, so release is
        // the harness's job via graft.OpCaches.releaseAll() per query — a
        // raw persist here outlives every query of the session. For an
        // index that SHOULD outlive the query, use [[buildIvfIndex]].
        val cents = graft.OpCaches.track(centroids
          .getOrElse(coarseCentroids(corpus, numCentroids, idCol, vecCol))
          .select(col("centroid_id"), col("vec")))
        searchIvfFrames(queries, cents,
          ivfCorpusFrame(corpus, cents, idCol, vecCol), k, nprobe, idCol,
          vecCol)
    }

  /** The IVF corpus side: each vector with a non-null id tagged with its
    * inverted list plus a precomputed norm — the frame an [[IvfIndex]]
    * persists. A null id never survives the search's
    * `query_id <> neighbor_id` filter, so it is dropped here. */
  private def ivfCorpusFrame(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    ivfAssign(corpus.where(col(idCol).isNotNull),
        cents.select(col("centroid_id"), col("vec")), idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"), col("centroid_id"))
      .withColumn("cn", norm(col("cv")))

  /** Probe + in-list exact-cosine scan shared by [[ivfTopK]] (build
    * inline) and [[searchIvf]] (prebuilt index): nprobe nearest
    * centroids per query from a broadcast of the centroid table (a null
    * centroid id, which no list carries, is skipped), then a
    * centroid_id equi-join against the assigned corpus and one per-query
    * top-k window. */
  private def searchIvfFrames(queries: DataFrame, cents: DataFrame,
      assigned: DataFrame, k: Int, nprobe: Int, idCol: String,
      vecCol: String): DataFrame = {
    require(nprobe >= 1, s"nprobe must be positive (got $nprobe)")
    val c = cents.where(col("centroid_id").isNotNull)
      .select(col("centroid_id"), col("vec").as("cvv"))
    val probes = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(c))
      .withColumn("__sim", cosine(col("qv"), col("cvv")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__sim").desc,
          col("centroid_id").asc)))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
      .withColumn("qn", norm(col("qv")))
    val scored = assigned.join(probes, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosinePre(col("qv"), col("cv"), col("qn"), col("cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    ivfResult(scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k))
  }

  /** The IVF result columns of both search branches; Spark rounds the
    * cosine on both. */
  private def ivfResult(ranked: DataFrame): DataFrame =
    ranked.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long"), round(col("cosine"), 6).as("cosine"))

  /** Integral ids are compared as longs on the driver; other id types take
    * the distributed IVF plans. */
  private def longIds(t: DataType): Boolean =
    t == IntegerType || t == LongType

  /** `v` as a value of the integral id type `t`. */
  private def idValue(t: DataType, v: Long): Any =
    if (t == IntegerType) v.toInt else v

  /** A collected vector cell as external values, null elements kept. */
  private def boxed(v: ArrayData): Seq[Any] =
    if (v == null) null
    else Seq.tabulate(v.numElements())(i =>
      if (v.isNullAt(i)) null else v.getDouble(i))

  /** `ORDER BY score DESC NULLS LAST, id ASC` (Spark's default for a
    * descending key) as a strict less-than on row indexes. Scores order
    * as Spark orders doubles: NaN above every number, -0.0 = 0.0. */
  private def descThenId(score: Array[java.lang.Double],
      id: Array[Long])(a: Int, b: Int): Boolean = {
    val (x, y) = (score(a), score(b))
    val c =
      if (x == null || y == null)
        java.lang.Boolean.compare(x == null, y == null)
      else if (x.doubleValue == y.doubleValue) 0
      else java.lang.Double.compare(y, x)
    if (c != 0) c < 0 else id(a) < id(b)
  }

  /** A centroid table packed for [[graft.functions.IvfAssign.assign]]:
    * rows sorted by id (stable), each vector's first `dims` components
    * (the first centroid's length; a null element, or one past a shorter
    * vector, reads 0.0) at `c · dims`, and the norm of those components.
    * [[ivfAssign]] and the local build assign through it. */
  private final class PackedCentroids(rows: Seq[(Long, ArrayData)]) {
    private val sorted = rows.sortBy(_._1)
    val ids: Array[Long] = sorted.map(_._1).toArray
    val dims: Int = sorted.head._2.numElements()
    val cents = new Array[Double](ids.length * dims)
    val norms = new Array[Double](ids.length)
    sorted.zipWithIndex.foreach { case ((_, v), c) =>
      var s = 0.0
      var i = 0
      while (i < v.numElements() && i < dims) {
        val x = v.getDouble(i)
        cents(c * dims + i) = x; s += x * x; i += 1
      }
      norms(c) = math.sqrt(s)
    }
    def assign(v: ArrayData): Long =
      graft.functions.IvfAssign.assign(v, cents, norms, ids, dims)
    def column(v: Column): Column =
      graft.functions.VectorFunctions.ivf_assign(v, cents, norms, ids, dims)
  }

  /** The gate of the local IVF branch: `spark.graft.local.maxRows`,
    * capped by [[graft.graph.PathFinder.localMaxArrayRows]] since each
    * collected row carries a whole vector. */
  private def ivfCap(df: DataFrame): Long = math.min(
    PathFinder.localMaxRows(df.sparkSession), PathFinder.localMaxArrayRows)

  /** The local branch of [[buildIvfIndex]] and [[ivfTopK]]: when the
    * corpus's non-null-id vectors fit [[ivfCap]], one memoized
    * [[graft.graph.PathFinder.collectUnder]] of (id, vector) — a
    * repeated corpus plan runs no job — and the driver computes the
    * index the distributed plan would: the hash-mod centroids (per
    * `pmod(id, k)` group and position the mean of the non-null
    * components, positions ascending, a group without components
    * absent) or the collected caller `centroids`, then each vector's
    * list through the same [[PackedCentroids]] as [[ivfAssign]]. The
    * index holds two local relations, nothing persisted. None — the
    * distributed build — over the gate, for non-integral ids, or for
    * hash-mod centroids with `numCentroids` < 1. */
  private def localIvfIndex(corpus: DataFrame, numCentroids: Int,
      idCol: String, vecCol: String,
      centroids: Option[DataFrame]): Option[IvfIndex] = {
    val spark = corpus.sparkSession
    val idType = corpus.schema(idCol).dataType
    val centType = centroids.fold[DataType](idType)(
      _.schema("centroid_id").dataType)
    val cap = ivfCap(corpus)
    def vectors(df: DataFrame, id: String, vec: String) =
      PathFinder.collectUnder(df.where(col(id).isNotNull)
        .select(col(id).cast("long"), col(vec).cast("array<double>")), cap)
    if (!longIds(idType) || !longIds(centType) ||
        centroids.isEmpty && numCentroids < 1) return None
    for {
      c <- vectors(corpus, idCol, vecCol)
      cents <- centroids match {
        case Some(df) => vectors(df, "centroid_id", "vec").map(t =>
          t.longs(0).toSeq.zip(t.values(1).map(_.asInstanceOf[ArrayData])))
        case None => Some(hashModCentroids(c, numCentroids))
      }
    } yield {
      val ids = c.longs(0)
      val vecs = c.values(1).map(_.asInstanceOf[ArrayData])
      val packed = Option.when(cents.nonEmpty)(new PackedCentroids(cents))
      val centRows = cents.map { case (id, v) =>
        Row(idValue(centType, id), boxed(v)) }
      // no centroid: ivfAssign's empty plan, no corpus row
      val corpusRows = packed.toSeq.flatMap(p => ids.indices.map { i =>
        val v = vecs(i)
        Row(idValue(idType, ids(i)), boxed(v),
          if (v == null) null else p.assign(v),
          if (v == null) null else VecMath.norm(v))
      })
      val vecType = ArrayType(DoubleType, containsNull = true)
      IvfIndex(
        spark.createDataFrame(centRows.asJava, StructType(Seq(
          StructField("centroid_id", centType),
          StructField("vec", vecType)))),
        spark.createDataFrame(corpusRows.asJava, StructType(Seq(
          StructField("neighbor_id", idType), StructField("cv", vecType),
          StructField("centroid_id", LongType),
          StructField("cn", DoubleType)))))
    }
  }

  /** [[coarseCentroids]] on the driver over collected (id, vector)
    * columns: per `pmod(id, k)` group and position, the sum and count of
    * the non-null components in row order, then `sum / count` as `avg`
    * computes it (null without a component). Groups ascending. */
  private def hashModCentroids(c: PathFinder.Columns,
      k: Int): Seq[(Long, ArrayData)] = {
    val sums = scala.collection.mutable.TreeMap.empty[Long,
      (Array[Double], Array[Long])]
    val ids = c.longs(0)
    c.values(1).iterator.zipWithIndex.foreach {
      case (v: ArrayData, i) if v.numElements() > 0 =>
        val g = java.lang.Math.floorMod(ids(i), k.toLong)
        val n = v.numElements()
        val (s0, c0) = sums.getOrElse(g, (new Array[Double](0),
          new Array[Long](0)))
        val (s, cnt) = if (s0.length >= n) (s0, c0)
          else (java.util.Arrays.copyOf(s0, n), java.util.Arrays.copyOf(c0, n))
        var p = 0
        while (p < n) {
          if (!v.isNullAt(p)) { s(p) += v.getDouble(p); cnt(p) += 1 }
          p += 1
        }
        sums(g) = (s, cnt)
      case _ =>
    }
    sums.toSeq.map { case (g, (s, cnt)) =>
      g -> (new GenericArrayData(Array.tabulate[Any](s.length)(p =>
        if (cnt(p) == 0) null else s(p) / cnt(p))): ArrayData)
    }
  }

  /** The local branch of [[searchIvf]]: when the index's centroids and
    * listed vectors and the non-null-id queries each fit [[ivfCap]], they
    * are collected (the index frames memoized, the queries not: a query
    * batch rarely repeats) and probe, in-list scan and top-k run on the
    * driver with the arithmetic of `vec_dot` and `vec_norm`
    * ([[graft.functions.VecMath]]) and the distributed plan's orders:
    * probes by `sim DESC, centroid_id ASC`, neighbours by
    * `cosine DESC, neighbor_id ASC`, a null score last. A null query
    * vector scores null. Returns the unrounded cosine; None over the
    * gate or for non-integral ids. */
  private def localIvfSearch(index: IvfIndex, queries: DataFrame, k: Int,
      nprobe: Int, idCol: String, vecCol: String): Option[DataFrame] = {
    import PathFinder.collectUnder
    val qType = queries.schema(idCol).dataType
    val nType = index.corpus.schema("neighbor_id").dataType
    val cap = ivfCap(queries)
    if (!Seq(qType, nType, index.centroids.schema("centroid_id").dataType)
        .forall(longIds)) return None
    for {
      cents <- collectUnder(index.centroids
        .where(col("centroid_id").isNotNull)
        .select(col("centroid_id").cast("long"),
          col("vec").cast("array<double>")), cap)
      listed <- collectUnder(index.corpus
        .where(col("neighbor_id").isNotNull &&
          col("centroid_id").isNotNull && col("cv").isNotNull)
        .select(col("neighbor_id").cast("long"),
          col("cv").cast("array<double>"), col("centroid_id").cast("long"),
          col("cn").cast("double")), cap)
      qs <- collectUnder(queries.where(col(idCol).isNotNull)
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>")),
        cap, memo = false)
    } yield {
      val cIds = cents.longs(0)
      val cVecs = cents.values(1).map(_.asInstanceOf[ArrayData])
      val cNorms = cVecs.map(v => if (v == null) 0.0 else VecMath.norm(v))
      val (nIds, nVecs, nLists, nNorms) = (listed.longs(0),
        listed.values(1).map(_.asInstanceOf[ArrayData]), listed.longs(2),
        listed.doubles(3))
      val lists = nLists.indices.groupBy(nLists(_))
      // [[cosinePre]] given both norms: null for a null vector, 0.0 for a
      // zero norm product
      def cosine(a: ArrayData, an: Double, b: ArrayData,
          bn: Double): java.lang.Double =
        if (a == null || b == null) null
        else if (an * bn == 0.0) 0.0
        else VecMath.dot(a, b) / (an * bn)
      val qIds = qs.longs(0)
      val qVecs = qs.values(1).map(_.asInstanceOf[ArrayData])
      val qNorms = qVecs.map(v => if (v == null) 0.0 else VecMath.norm(v))
      val out = Seq.newBuilder[Row]
      // both windows partition by query id: the rows of one id share
      // their nprobe (row, centroid) probes and their top k
      qIds.indices.groupBy(qIds(_)).foreach { case (qid, qrows) =>
        val pairs = for (q <- qrows; c <- cIds.indices) yield (q, c)
        val sim = pairs.map { case (q, c) =>
          cosine(qVecs(q), qNorms(q), cVecs(c), cNorms(c)) }.toArray
        val cand = pairs.indices
          .sortWith(descThenId(sim, pairs.map(p => cIds(p._2)).toArray))
          .take(nprobe)
          .flatMap { i => val (q, c) = pairs(i)
            lists.getOrElse(cIds(c), Nil).filter(nIds(_) != qid).map(q -> _)
          }
        val cos = cand.map { case (q, j) =>
          cosine(qVecs(q), qNorms(q), nVecs(j), nNorms(j)) }.toArray
        val candIds = cand.map(c => nIds(c._2)).toArray
        cand.indices.sortWith(descThenId(cos, candIds)).take(k)
          .zipWithIndex.foreach { case (j, r) =>
            out += Row(idValue(qType, qid), idValue(nType, candIds(j)),
              (r + 1).toLong, cos(j))
          }
      }
      queries.sparkSession.createDataFrame(out.result().asJava,
        StructType(Seq(StructField("query_id", qType),
          StructField("neighbor_id", nType), StructField("rank", LongType),
          StructField("cosine", DoubleType))))
    }
  }

  // ===========================================================================
  // Prebuilt ANN indexes: build once, search many
  // ===========================================================================
  //
  // A production 100 TB embedding store builds its index ONCE and searches
  // it many times; [[ivfTopK]] / [[ivfPqTopK]] rebuild per call, which is
  // the right shape for a one-shot query but charges every search the full
  // training cost. The handles below split the two phases: `build*`
  // persists AND materializes the index frames (training, list assignment,
  // codebooks, codes — every corpus-sized pass), and `search*` is a pure
  // lazy composition over them, so repeated searches pay only probe +
  // candidate-scan + top-k. Search results are bit-identical to the
  // corresponding one-shot operator at the same parameters (spec-pinned).
  //
  // OWNERSHIP: index frames are deliberately NOT OpCaches-tracked — an
  // index outlives the query that built it BY DESIGN, so the harness's
  // per-query releaseAll must not drop it. The handle owner calls
  // `release()` when done. For a built/appended index release is a plain
  // uncache (idempotent; the index still answers searches, it just
  // recomputes); a locally built index holds local relations, so
  // release does nothing. For a COMPACTED index release also frees the
  // checkpoint blocks backing the flattened frames — their lineage was
  // truncated, so a compacted index must not be searched after release;
  // the durable alternative is [[saveIvfIndex]]/[[loadIvfIndex]].

  /** Prebuilt IVF index: `centroids` (centroid_id, vec) and the assigned
    * `corpus` (neighbor_id, cv, centroid_id, cn), both persisted and
    * materialized by [[buildIvfIndex]], or two local relations under the
    * gate (release is then a no-op). */
  final case class IvfIndex(centroids: DataFrame, corpus: DataFrame) {
    def release(): Unit = Seq(centroids, corpus).foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Exception => () }
      // frees compacted frames' checkpoint blocks (no-op otherwise)
      org.apache.spark.sql.graft.CleanCheckpoint.releaseCheckpoint(df)
    }
  }

  /** Build an [[IvfIndex]] over `corpus`: coarse centroids (hash-mod
    * [[coarseCentroids]] by default — [[ivfTopK]]'s convention; pass
    * `centroids = Some(kMeans(...))` for trained lists) and the per-list
    * corpus assignment. A corpus under the gate is one memoized collect
    * plus a driver build ([[localIvfIndex]]); a bigger one is persisted
    * + materialized: one centroid pass + one fused assignment projection
    * over the corpus — the same work a single [[ivfTopK]] call does,
    * paid once. */
  def buildIvfIndex(corpus: DataFrame, numCentroids: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[DataFrame] = None): IvfIndex =
    localIvfIndex(corpus, numCentroids, idCol, vecCol, centroids)
      .getOrElse {
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val cents = centroids
          .getOrElse(coarseCentroids(corpus, numCentroids, idCol, vecCol))
          .select(col("centroid_id"), col("vec"))
          .persist(lvl)
        val assigned =
          ivfCorpusFrame(corpus, cents, idCol, vecCol).persist(lvl)
        cents.count()
        assigned.count()
        IvfIndex(cents, assigned)
      }

  /** Search a prebuilt [[IvfIndex]]: identical semantics (and results)
    * to [[ivfTopK]] with the index's centroids, minus the per-call
    * build. Index frames and queries under the gate are searched on the
    * driver ([[localIvfSearch]]). @return (query_id, neighbor_id, rank,
    * cosine) */
  def searchIvf(index: IvfIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, s"nprobe must be positive (got $nprobe)")
    localIvfSearch(index, queries, k, nprobe, idCol, vecCol)
      .map(ivfResult)
      .getOrElse(searchIvfFrames(queries, index.centroids, index.corpus, k,
        nprobe, idCol, vecCol))
  }

  /** Prebuilt IVF-PQ index: coarse `centroids` (centroid_id, vec),
    * inverted `lists` (neighbor_id, centroid_id), PQ `codebooks`
    * (sub, centroid_id, vec) and exploded `codes` (neighbor_id, sub,
    * cid), all persisted and materialized by [[buildIvfPqIndex]]. */
  final case class IvfPqIndex(centroids: DataFrame, lists: DataFrame,
      codebooks: DataFrame, codes: DataFrame, m: Int, ksub: Int) {
    def release(): Unit =
      Seq(centroids, lists, codebooks, codes).foreach { df =>
        try df.unpersist(blocking = false) catch { case _: Exception => () }
        // frees compacted frames' checkpoint blocks (no-op otherwise)
        org.apache.spark.sql.graft.CleanCheckpoint.releaseCheckpoint(df)
      }
  }

  /** Build an [[IvfPqIndex]] over `corpus`: coarse spherical [[kMeans]]
    * + list assignment + [[pqTrain]] + [[pqEncode]] — every corpus-sized
    * pass of [[ivfPqTopK]] — persisted + materialized once. Search-side
    * determinism is inherited (rounded centroids, deterministic PQ init,
    * smallest-id ties), so [[searchIvfPq]] over this index returns
    * exactly what a one-shot [[ivfPqTopK]] at the same parameters
    * returns. */
  def buildIvfPqIndex(corpus: DataFrame, numCentroids: Int = 16,
      m: Int = 2, ksub: Int = 8, coarseIters: Int = 1, pqIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cents = kMeans(corpus, numCentroids, coarseIters, idCol, vecCol)
      .persist(lvl)
    val lists = ivfAssign(corpus, cents, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
      .persist(lvl)
    val books = pqTrain(corpus, m, ksub, pqIters, idCol, vecCol)
      .persist(lvl)
    val codes = pqEncode(corpus, books, m, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
      .persist(lvl)
    Seq(cents, lists, books, codes).foreach(_.count())
    IvfPqIndex(cents, lists, books, codes, m, ksub)
  }

  /** Search a prebuilt [[IvfPqIndex]]: probe `nprobe` lists per query,
    * ADC-score only the probed candidates — identical semantics (and
    * results) to [[ivfPqTopK]] at the same parameters, minus the
    * per-call build. @return (query_id, neighbor_id, rank, adc_cosine) */
  def searchIvfPq(index: IvfPqIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    searchIvfPqFrames(queries, index.centroids, index.lists,
      index.codebooks, index.codes, k, index.m, nprobe, idCol, vecCol)

  /** Append a vector batch to a prebuilt [[IvfIndex]] — the standard
    * IVF maintenance contract: the coarse quantizer is FROZEN at build
    * time (new vectors are assigned to the existing cells; retrain =
    * rebuild when drift warrants it), so an appended index is exactly
    * the index whose corpus frame covers old ∪ delta under the original
    * centroids. Only the delta is scanned.
    *
    * CONSUMES the input handle: the returned index shares the centroid
    * frame and owns the new corpus frame; the input's corpus frame is
    * unpersisted here. Do not search or release the input afterwards. */
  def appendToIvfIndex(index: IvfIndex, delta: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val merged = index.corpus
      .unionByName(ivfCorpusFrame(delta, index.centroids, idCol, vecCol))
      .persist(lvl)
    merged.count()
    index.corpus.unpersist(blocking = false)
    IvfIndex(index.centroids, merged)
  }

  /** Append a vector batch to a prebuilt [[IvfPqIndex]]: the delta is
    * list-assigned against the frozen coarse centroids and PQ-encoded
    * against the frozen codebooks ([[appendToIvfIndex]]'s maintenance
    * contract), then unioned into the lists/codes frames — only the
    * delta is scanned, the existing corpus is never touched.
    *
    * CONSUMES the input handle: the returned index shares centroids +
    * codebooks and owns the new lists/codes; the input's lists/codes
    * are unpersisted here. Do not search or release the input
    * afterwards. */
  def appendToIvfPqIndex(index: IvfPqIndex, delta: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lists2 = index.lists
      .unionByName(ivfAssign(delta, index.centroids, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"), col("centroid_id")))
      .persist(lvl)
    val codes2 = index.codes
      .unionByName(pqEncode(delta, index.codebooks, index.m, idCol, vecCol)
        .select(col(idCol).as("neighbor_id"),
          posexplode(col("codes")).as(Seq("sub", "cid"))))
      .persist(lvl)
    lists2.count()
    codes2.count()
    index.lists.unpersist(blocking = false)
    index.codes.unpersist(blocking = false)
    IvfPqIndex(index.centroids, lists2, index.codebooks, codes2,
      index.m, index.ksub)
  }

  /** Compact a chained-append [[IvfIndex]]: every [[appendToIvfIndex]]
    * deepens the corpus frame's union lineage by one level, and every
    * later search re-plans that whole union. Compaction rewrites the
    * corpus as ONE flat materialized frame (eager clean local
    * checkpoint — lineage cut, rows and partitioning unchanged; the
    * CLEAN variant matters because a raw `localCheckpoint` snapshots
    * stale pre-projection constraints into the LogicalRDD, and a later
    * [[appendToIvfIndex]] re-unions the frame — the documented
    * `UnionBase.rewriteConstraints` "key not found" hazard), so a
    * high-frequency append loop stays O(1) per search instead of
    * O(appends). Searches over the compacted index are bit-identical
    * (spec-pinned), and compact → append → search keeps working. For
    * DURABLE compaction — survives executor loss — use
    * [[saveIvfIndex]]/[[loadIvfIndex]] instead: the parquet round-trip
    * flattens lineage too and is the production checkpoint.
    *
    * CONSUMES the input handle ([[appendToIvfIndex]]'s contract): the
    * returned index shares the centroid frame and owns the flat corpus;
    * the input's corpus frame is unpersisted here. */
  def compactIvfIndex(index: IvfIndex): IvfIndex = {
    val flat = org.apache.spark.sql.graft.CleanCheckpoint
      .cleanLocalCheckpoint(index.corpus)
    index.corpus.unpersist(blocking = false)
    IvfIndex(index.centroids, flat)
  }

  /** Compact a chained-append [[IvfPqIndex]] — [[compactIvfIndex]] for
    * the composite index: the lists and codes frames (the two that
    * [[appendToIvfPqIndex]] unions into) are flattened; centroids and
    * codebooks are frozen at build time and shared as-is. CONSUMES the
    * input handle. */
  def compactIvfPqIndex(index: IvfPqIndex): IvfPqIndex = {
    val ck = org.apache.spark.sql.graft.CleanCheckpoint
    val lists = ck.cleanLocalCheckpoint(index.lists)
    val codes = ck.cleanLocalCheckpoint(index.codes)
    index.lists.unpersist(blocking = false)
    index.codes.unpersist(blocking = false)
    IvfPqIndex(index.centroids, lists, index.codebooks, codes,
      index.m, index.ksub)
  }

  /** Commit-marker discipline for the index persistences: the manifest
    * (which also carries the params) is DELETED before any data dir is
    * touched and re-written LAST, so a crash anywhere mid-save leaves a
    * manifest-less directory that the loaders refuse — never a torn
    * index (e.g. new codebooks with old codes) searching with wrong
    * scores. */
  private def deleteManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def requireManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, kind: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no $kind index manifest at $path — the directory is empty, " +
        "torn by a crashed save, or not an index; refusing to load")
  }

  /** Persist an [[IvfIndex]] to `path` as two parquet tables plus a
    * manifest — the plain-IVF twin of [[saveIvfPqIndex]] (same durable
    * "build once" shape, same commit-marker discipline). Overwrites any
    * index already at `path`. */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.centroids.sparkSession
    deleteManifest(spark, path)
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.corpus.write.mode("overwrite").parquet(s"$path/corpus")
    spark.createDataFrame(Seq(Tuple1("ivf"))).toDF("kind")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** Load an [[IvfIndex]] saved by [[saveIvfIndex]]: both frames
    * re-persist + materialize from their parquet, so the handle is
    * immediately searchable — [[searchIvf]] over a loaded index returns
    * exactly what the saved index returned. Refuses a path without a
    * manifest (torn or foreign directory). The caller owns release(). */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfIndex = {
    requireManifest(spark, path, "IVF")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val frames = Seq("centroids", "corpus")
      .map(n => spark.read.parquet(s"$path/$n").persist(lvl))
    frames.foreach(_.count())
    IvfIndex(frames(0), frames(1))
  }

  /** Persist an [[IvfPqIndex]] to `path` as four parquet tables plus a
    * manifest carrying (m, ksub) — the durable form of "build once": a
    * 100 TB store trains its index in one job and every later session
    * [[loadIvfPqIndex]]s it instead of re-reading the corpus. Everything
    * in the index is deterministic data (rounded centroids, codes), so
    * saved and rebuilt indexes search identically. The manifest is
    * written LAST (and deleted first), so a crashed save can never be
    * loaded as a torn index. Overwrites any index already at `path`. */
  def saveIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    val spark = index.centroids.sparkSession
    deleteManifest(spark, path)
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.lists.write.mode("overwrite").parquet(s"$path/lists")
    index.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    spark.createDataFrame(
        Seq((index.m, index.ksub))).toDF("m", "ksub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** Load an [[IvfPqIndex]] saved by [[saveIvfPqIndex]]: the four frames
    * re-persist + materialize from their parquet (corpus never touched),
    * so the handle is immediately searchable. Refuses a path without a
    * manifest (torn or foreign directory). The caller owns release(). */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): IvfPqIndex = {
    requireManifest(spark, path, "IVF-PQ")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p = spark.read.parquet(s"$path/manifest").head()
    val frames = Seq("centroids", "lists", "codebooks", "codes")
      .map(n => spark.read.parquet(s"$path/$n").persist(lvl))
    frames.foreach(_.count())
    IvfPqIndex(frames(0), frames(1), frames(2), frames(3),
      p.getInt(0), p.getInt(1))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with (spherical)
    * [[kMeans]], search for near-duplicates ONLY within a cluster, and
    * mark a vector a duplicate iff some smaller-id member of its cluster
    * sits at cosine ≥ `threshold` — the deterministic keep-the-first
    * variant of the paper's per-ball representative choice, and the
    * embedding analogue of [[Dedup]]'s min-id exact-dedup canonical rule.
    *
    * Scale shape: the all-pairs search never happens — candidates are
    * bucketed by `centroid_id`, and the within-cluster quadratic work
    * rides [[Dedup.blockedBucketJoin]], so a hot cluster is split into
    * bounded join cells instead of one straggler task. One centroid
    * broadcast per k-means iteration + the bucketed pair join are the
    * only exchanges over the corpus.
    *
    * THE QUADRATIC-PER-BUCKET CONTRACT: total pairwise work is
    * Θ(Σ_c |cluster_c|²). blockedBucketJoin bounds the per-TASK cost
    * (no cell exceeds blockSize² candidates), but the per-CLUSTER total
    * still grows quadratically in cluster population — so k must scale
    * with the corpus. The default (`k = 0`) derives
    * k = ceil(n / targetBucket) from one corpus count, holding the MEAN
    * cluster at ≤ `targetBucket` (1e4) vectors ⇒ expected total work
    * ≈ n · targetBucket, linear in the corpus. Pass an explicit k only
    * when you know the corpus size; a fixed k at growing n is O(n²/k).
    *
    * @param k clusters; 0 (default) = derive ceil(n / targetBucket)
    * @return (idCol, centroid_id, is_duplicate)
    */
  def semanticDedup(df: DataFrame, threshold: Double, k: Int = 0,
      iters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", targetBucket: Int = 10000): DataFrame = {
    require(k >= 0, s"k must be non-negative (got $k)")
    val kEff =
      if (k > 0) k
      else math.max(1L, (df.count() + targetBucket - 1) / targetBucket)
        .min(Int.MaxValue).toInt
    val cents = kMeans(df, kEff, iters, idCol, vecCol)
    // tracked-persisted: consumed twice (pair search + final left join) —
    // without it the whole k-means + assignment pipeline recomputes; the
    // harness's per-query OpCaches.releaseAll is the unpersist
    val assigned = graft.OpCaches.track(ivfAssign(df, cents, idCol, vecCol)
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"), col("centroid_id"))
      .withColumn("n", norm(col("v"))))
    // verify-before-dedup: the distinct carries bare ids, never vectors
    val dups = Dedup.blockedBucketJoin(assigned, Seq("centroid_id"))
      .select(col("y.id").as("id"),
        cosinePre(col("x.v"), col("y.v"), col("x.n"), col("y.n")).as("c"))
      .filter(col("c") >= threshold)
      .select("id").distinct()
    assigned
      .join(dups.select(col("id"), lit(true).as("__dup")), Seq("id"),
        "left_outer")
      .select(col("id").as(idCol),
        col("centroid_id").cast("long").as("centroid_id"),
        coalesce(col("__dup"), lit(false)).as("is_duplicate"))
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `centroids` (a small table (centroid_id, vec) — kilobytes by the
    * IVF design point), so queries only scan `nprobe` inverted lists —
    * the classic ANN scale path. One codegen'd projection per row.
    *
    * NULL-ROW SEMANTICS (differs from the pre-fusion declarative form):
    * a NULL-embedding row gets a NULL `centroid_id` (null-safe
    * expression), where the old nulls-last window still assigned the
    * smallest centroid id. NULL is the honest answer — "nearest centroid
    * of nothing" — and downstream equi-joins on centroid_id drop such
    * rows instead of piling them into list 0. The "bit-identical to the
    * declarative form" claims cover non-null rows.
    * @return input + `centroid_id` column
    */
  def ivfAssign(df: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // centroid tables are kilobytes by contract (they broadcast in the
    // previous crossJoin shape) — collect once and fuse the whole
    // cosine-argmax into ONE codegen'd projection
    // ([[graft.functions.IvfAssignExpr]]): no N×k scored rows, no
    // per-vector argmin window sort. Arithmetic, zero-norm rule, and the
    // smallest-id tie-break are bit-identical to the declarative form
    // (IvfAssign scaladoc); an empty centroid table keeps the previous
    // crossJoin-with-empty semantics (no output rows).
    // A null centroid id names no list and is skipped.
    val rows = centroids
      .where(col("centroid_id").isNotNull)
      .select(col("centroid_id").cast("long"),
        col("vec").cast("array<double>"))
      .collect()
    if (rows.isEmpty)
      return df.withColumn("centroid_id", lit(0L)).filter(lit(false))
    val packed = new PackedCentroids(rows.toSeq.map(r =>
      r.getLong(0) -> new GenericArrayData(r.getSeq[Any](1).toArray)))
    df.withColumn("centroid_id",
      packed.column(col(vecCol).cast("array<double>")))
  }

  // ===========================================================================
  // Product quantization (PQ)
  // ===========================================================================

  /** (id, sub, pos, comp) component rows: the vector split into `m` equal
    * subspaces with subspace-LOCAL positions — the shared decomposition
    * for PQ training, encoding and the SQL oracle. */
  private def pqComponents(df: DataFrame, m: Int, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol), size(col(vecCol)).as("__dims"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__p", "__c")))
      // dims must split into m EQUAL subspaces — a silent truncation
      // would mint extra subspaces and break the "m codes" contract;
      // assert_true raises at execution (it cannot be known at plan
      // time: vector lengths live in the data)
      .withColumn("__sd", (col("__dims") / m).cast("long") +
        coalesce(assert_true(
          pmod(col("__dims"), lit(m)) === 0 && col("__dims") >= m,
          concat(lit(s"PQ requires vector dims divisible by m=$m, got "),
            col("__dims"))).cast("long"), lit(0L)))
      .select(col(idCol),
        (col("__p") / col("__sd")).cast("long").as("sub"),
        pmod(col("__p"), col("__sd")).cast("long").as("pos"),
        col("__c").as("comp"))

  /** Train `m` product-quantization sub-codebooks of `ksub` centroids
    * each — Jégou et al. 2011, the standard 8-32x compression for a
    * 100 TB embedding store: vectors are split into m subspaces and each
    * subspace gets its own k-means codebook; a vector is then `m` small
    * codes instead of `dims` floats ([[pqEncode]]), and dot products
    * against the RECONSTRUCTION decompose as Σ_j dot(q_j, c_j) — the
    * additive structure [[pqTopK]]'s ADC scan exploits.
    *
    * All m sub-trainings run in ONE pipeline (the subspace is just a
    * grouping column): deterministic hash-mod init (id % ksub, the
    * [[kMeans]] convention), Lloyd iterations with L2 assignment
    * (squared distance decomposes over components; ties break on the
    * smaller centroid id) and centroids rounded to `roundDecimals` per
    * iteration so an SQL replay is value-exact. One centroid broadcast +
    * one (sub, cid, pos) recompute shuffle per iteration — the corpus is
    * never collected.
    *
    * @return (sub, centroid_id, vec) — vec is the subspace-local centroid
    */
  def pqTrain(df: DataFrame, m: Int, ksub: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      roundDecimals: Int = 6): DataFrame = {
    require(m >= 1, s"m must be positive (got $m)")
    require(ksub >= 1, s"ksub must be positive (got $ksub)")
    require(iters >= 0, s"iters must be non-negative (got $iters)")
    val dp = pqComponents(df, m, idCol, vecCol)
    def toVecs(cents: DataFrame): DataFrame = cents
      .groupBy("sub", "centroid_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("v")))),
        s => s.getField("v")).as("vec"))
    var cents = dp
      .withColumn("centroid_id", pmod(col(idCol).cast("long"), lit(ksub)))
      .groupBy("sub", "centroid_id", "pos")
      .agg(round(avg("comp"), roundDecimals).as("v"))
    // each iteration: collect the (tiny, m×ksub×subdim) codebook to the
    // driver and fuse the assignment into the SAME pass that re-averages
    // — codes and components come off one row, so the explode →
    // broadcast-join → argmin-window pipeline (N×dims×ksub join rows per
    // iteration) collapses to one projection + the unavoidable
    // per-(sub, centroid, pos) average. Argmin ties and null-element
    // handling identical to the declarative form (PqAssign scaladoc).
    for (_ <- 1 to iters) {
      val (books, kEff, sd) = collectBooks(toVecs(cents), m)
      cents = df
        .select(col(vecCol).cast("array<double>").as("__v"))
        .select(col("__v"), graft.functions.VectorFunctions.pq_assign(
          col("__v"), books, m, kEff).as("__codes"))
        .select(posexplode(col("__v")).as(Seq("__p", "__c")),
          col("__codes"))
        .select((col("__p") / sd).cast("long").as("sub"),
          pmod(col("__p"), lit(sd)).cast("long").as("pos"),
          element_at(col("__codes"),
            (col("__p") / sd).cast("int") + 1).as("centroid_id"),
          col("__c").as("comp"))
        .groupBy("sub", "centroid_id", "pos")
        .agg(round(avg("comp"), roundDecimals).as("v"))
    }
    toVecs(cents)
  }

  /** Collect a [[pqTrain]] codebook to the flat driver array
    * [[graft.functions.PqAssign]] indexes (`(sub·ksub + cid)·subdim +
    * pos`): m×ksub×subdim doubles — kilobytes at any corpus scale, the
    * PQ design point. Absent (sub, cid) slots (a degenerate init can
    * mint fewer than ksub ids) stay NaN and never win the argmin. */
  private def collectBooks(codebooks: DataFrame,
      m: Int): (Array[Double], Int, Int) = {
    val rows = codebooks
      .select(col("sub").cast("long"), col("centroid_id").cast("long"),
        col("vec"))
      .collect()
    require(rows.nonEmpty, "PQ codebook is empty")
    val ksub = rows.map(_.getLong(1)).max.toInt + 1
    val subdim = rows.head.getSeq[Double](2).length
    val arr = Array.fill(m * ksub * subdim)(Double.NaN)
    rows.foreach { r =>
      val base = (r.getLong(0).toInt * ksub + r.getLong(1).toInt) * subdim
      val v = r.getSeq[Double](2)
      var i = 0
      while (i < subdim) { arr(base + i) = v(i); i += 1 }
    }
    (arr, ksub, subdim)
  }

  /** Encode each vector as its `m` nearest sub-centroid ids (L2 per
    * subspace, ties to the smaller id) — the PQ code array, `m` longs
    * replacing `dims` floats. The codebook is collected to the driver
    * (m×ksub×subdim doubles — kilobytes by the PQ design point) and the
    * whole encode is ONE codegen'd projection pass
    * ([[graft.functions.PqAssignExpr]]): no explode, no join, no argmin
    * window, no shuffle — at 100 TB the encode reads the vectors once
    * and writes the codes.
    *
    * NULL-ROW SEMANTICS (differs from the pre-fusion declarative form):
    * a NULL-vector row is KEPT with NULL `codes` (null-safe projection),
    * where the old explode+groupBy dropped it entirely — a projection
    * must not silently change the row set. Filter `codes IS NOT NULL`
    * to recover the old contract; the "bit-identical" claims cover
    * non-null rows.
    *
    * @param codebooks output of [[pqTrain]]
    * @return (idCol, codes: array<long> ordered by subspace)
    */
  def pqEncode(df: DataFrame, codebooks: DataFrame, m: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (books, ksub, _) = collectBooks(codebooks, m)
    df.select(col(idCol), graft.functions.VectorFunctions.pq_assign(
      col(vecCol).cast("array<double>"), books, m, ksub).as("codes"))
  }

  /** PQ approximate top-k by ASYMMETRIC DISTANCE COMPUTATION: the query
    * stays exact, the corpus is its PQ reconstruction, and
    * cosine(q, x̂) = (Σ_j dot(q_j, c_{j,code_j})) / (|q| · |x̂|) comes
    * from a per-query LOOKUP TABLE of m×ksub subspace dots — the scan
    * costs m table lookups + adds per corpus vector instead of `dims`
    * multiplies, and the corpus side reads CODES (m longs) instead of
    * vectors: at 100 TB the win is 8-32x scan bandwidth, the classic PQ
    * linear scan (compose with [[ivfTopK]]'s coarse lists to also prune
    * candidates). Codebooks and the per-query LUT broadcast; the only
    * corpus-sized exchange is the per-query top-k window.
    *
    * @return (query_id, neighbor_id, rank, adc_cosine) — approximate;
    *         gate recall against [[bruteForceTopK]]
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int,
      ksub: Int, iters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val books = graft.OpCaches.track(
      pqTrain(corpus, m, ksub, iters, idCol, vecCol))
    val codes = pqEncode(corpus, books, m, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
    adcRank(queries, codes, books, k, m, idCol, vecCol, candidates = None)
  }

  /** IVF-PQ composite top-k — the production ANN architecture at the
    * 100 TB store: a COARSE quantizer (spherical [[kMeans]], rounded
    * centroids) buckets the corpus into inverted lists so each query
    * scans only its `nprobe` nearest lists, and within those lists the
    * scan reads PQ CODES (m longs) against the per-query ADC lookup
    * table instead of raw vectors — candidate PRUNING from IVF times
    * 8-32× scan BANDWIDTH from PQ ([[pqTopK]]'s scaladoc composition,
    * realized). Fully deterministic (rounded coarse centroids,
    * deterministic PQ init, smallest-id tie-breaks), so an independent
    * engine replays the entire index build and search exactly.
    *
    * Plan: coarse train + corpus assignment are one fused projection
    * each ([[graft.functions.IvfAssignExpr]]); PQ train/encode likewise
    * ([[graft.functions.PqAssignExpr]]); probes rank nprobe centroids
    * per query from a broadcast table; the ADC scan joins the
    * (query, list) probes to the list members and scores only those
    * candidates — the only corpus-sized exchanges are the list
    * assignment shuffle and the final per-query top-k.
    *
    * @return (query_id, neighbor_id, rank, adc_cosine) — approximate;
    *         recall gated against [[bruteForceTopK]] by the caller
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int = 16, nprobe: Int = 4, m: Int = 2, ksub: Int = 8,
      coarseIters: Int = 1, pqIters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCentroids,
      s"nprobe must be in [1, numCentroids] (got $nprobe of $numCentroids)")
    // tracked, not bare-persisted (OpCaches releaseAll per query) — the
    // build-once handle for repeated searches is [[buildIvfPqIndex]]
    val cents = graft.OpCaches.track(
      kMeans(corpus, numCentroids, coarseIters, idCol, vecCol))
    // inverted lists: corpus vectors bucketed by nearest coarse centroid
    val lists = ivfAssign(corpus, cents, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
    val books = graft.OpCaches.track(
      pqTrain(corpus, m, ksub, pqIters, idCol, vecCol))
    val codes = pqEncode(corpus, books, m, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
    searchIvfPqFrames(queries, cents, lists, books, codes, k, m, nprobe,
      idCol, vecCol)
  }

  /** Probe + candidate ADC scan shared by [[ivfPqTopK]] (build inline)
    * and [[searchIvfPq]] (prebuilt index).
    *
    * BOUNDED-BROADCAST assumption: `probes` is |queries| × nprobe narrow
    * rows, broadcast into the list join — right for the bounded query
    * batches this API serves (the per-query ADC LUT in [[adcRank]]
    * broadcasts too, so the whole search path assumes it). For an
    * unbounded query stream (~10⁸ queries) drop both broadcast hints and
    * let the planner shuffle-join on centroid_id / (sub, cid) — the plans
    * are hint-only, nothing else changes. */
  private def searchIvfPqFrames(queries: DataFrame, cents: DataFrame,
      lists: DataFrame, books: DataFrame, codes: DataFrame, k: Int,
      m: Int, nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    require(nprobe >= 1, s"nprobe must be positive (got $nprobe)")
    // probe lists: nprobe nearest centroids per query (same cosine +
    // smallest-id tie-break as the assignment)
    val c = cents.select(col("centroid_id"),
      col("vec").cast("array<double>").as("cvv"))
    val probes = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(c))
      .withColumn("__sim", cosine(col("qv"), col("cvv")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__sim").desc,
          col("centroid_id").asc)))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
    val candidates = lists.join(broadcast(probes), Seq("centroid_id"))
      .select(col("query_id"), col("neighbor_id"))
    adcRank(queries, codes, books, k, m, idCol, vecCol,
      candidates = Some(candidates))
  }

  /** Shared ADC scoring + per-query top-k of [[pqTopK]] / [[ivfPqTopK]]:
    * cosine(q, x̂) from the per-query LUT of m×ksub subspace dots and
    * the additive reconstruction norm. With `candidates`, only the
    * (query, neighbor) pairs in the probed inverted lists are scored —
    * the candidate stream (not the corpus × queries product) is the
    * joined volume. Reconstruction norm |x̂|² = Σ_j |c_{j,code_j}|² is
    * summed directly (no sqrt-then-square float artifact vs the
    * oracle's sum(c*c)); books are m×ksub rows, the interpreted HOF is
    * off the hot path. */
  private def adcRank(queries: DataFrame, codes: DataFrame,
      books: DataFrame, k: Int, m: Int, idCol: String, vecCol: String,
      candidates: Option[DataFrame]): DataFrame = {
    val cnorm2 = books.select(col("sub"), col("centroid_id").as("cid"),
      expr("aggregate(vec, cast(0.0 as double), (a, x) -> a + x * x)")
        .as("cn2"))
    // per-query LUT: dot(q_j, centroid) for every (sub, cid)
    val qsub = pqComponents(queries, m, idCol, vecCol)
    val flat = books.select(col("sub"), col("centroid_id").as("cid"),
      posexplode(col("vec")).as(Seq("pos", "v")))
    val lut = qsub.join(broadcast(flat), Seq("sub", "pos"))
      .groupBy(col(idCol).as("query_id"), col("sub"), col("cid"))
      .agg(sum(col("comp") * col("v")).as("d"))
    val qn = queries.select(col(idCol).as("query_id"),
      norm(col(vecCol).cast("array<double>")).as("qn"))
    val paired = candidates match {
      case Some(cand) => codes.join(cand, Seq("neighbor_id"))
        .join(broadcast(lut), Seq("query_id", "sub", "cid"))
      case None => codes.join(broadcast(lut), Seq("sub", "cid"))
    }
    val scored = paired
      .join(broadcast(cnorm2), Seq("sub", "cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("d").as("dot"), sum("cn2").as("rn2"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("adc_cosine",
        when(col("qn") * sqrt(col("rn2")) === 0, lit(0.0))
          .otherwise(col("dot") / (col("qn") * sqrt(col("rn2")))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long"),
        round(col("adc_cosine"), 6).as("adc_cosine"))
  }

  /** Recall@k report for an approximate ANN result against a
    * ground-truth result — the standard index-quality measurement run
    * after a build or an append (e.g. `recallAtK(searchIvf(idx, q, k),
    * bruteForceTopK(q, corpus, k), k)`). Both inputs are ANN result
    * frames carrying (query_id, neighbor_id, rank); per query,
    * recall = |approx top-k ∩ exact top-k| / |exact top-k| — the
    * denominator is the TRUTH size (≤ k on small corpora), so a
    * perfect search scores 1.0 regardless of corpus size. Queries
    * absent from `approx` (or pruned to nothing) score 0.0; queries
    * absent from `exact` are not scored (no truth, no claim).
    *
    * Plan shape: two filters, one equi-join on (query_id, neighbor_id),
    * two map-side-combinable aggregates — no collect, no window; both
    * inputs stay distributed at any query-batch size.
    *
    * @return (query_id, hits, n_exact, recall) — one row per query in
    *         `exact`, recall rounded to 6 places
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive (got $k)")
    // dropDuplicates guards arbitrary caller frames: a duplicated
    // (query_id, neighbor_id) row on either side would multiply join
    // matches and push recall past 1.0; the dedup is one
    // map-side-combinable pass, noise next to the join it protects
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"))
      .dropDuplicates("query_id", "neighbor_id")
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"))
      .dropDuplicates("query_id", "neighbor_id")
    val truth = e.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val hits = a.join(e, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    truth.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("n_exact"),
        round(coalesce(col("hits"), lit(0L)).cast("double") /
          col("n_exact"), 6).as("recall"))
  }
}
