package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd vector kernels for embedding math.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate
  * lambda expressions interpretively per element — ~100× slower than a
  * fused loop for 64-dim dot products (measured against DuckDB's native
  * `list_cosine_similarity`). These are native Catalyst expressions with
  * `doGenCode` emitting tight primitive loops inside whole-stage codegen —
  * the preference order the reference mapping calls for (custom
  * `Expression` before UDF).
  *
  * Numerics: sequential left-to-right summation over the array — exactly
  * the order `aggregate(zip_with(...))` used, so results are bit-identical
  * to the previous implementation (and to the DuckDB oracle).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.VecMath.dot($x, $y);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** L2 norm with the same summation order as
  * `sqrt(aggregate(transform(v, x -> x*x), 0.0, +))`. */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(a: Any): Any =
    VecMath.norm(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.VecMath.norm($x);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(c)
}

/** The arithmetic of [[DotProduct]] and [[L2Norm]], shared with the
  * driver kernels (the local IVF search in [[graft.ops.Similarity]]) so
  * both branches compute bit-identical values. The dot runs over
  * min(lengths), the norm over the whole array; a null element reads as
  * 0.0. */
object VecMath {
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  def norm(x: ArrayData): Double = {
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }
}

/** All `numHashes` MinHash permutation minima in one fused loop over the
  * pre-hashed shingle array — replaces `numHashes` separate interpreted
  * `array_min(transform(...))` scans. Permutation family matches
  * [[graft.ops.Dedup.minHashesFromHashed]]: h_i(x) = (a_i·x + b_i) mod p,
  * p = 2^31−1, a_i = 2i+1, b_i = (1099511628211·(i+1)) mod p. Empty
  * array ⇒ all slots stay Long.MaxValue (the neutral max). */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  private val p = 2147483647L

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = ((x.getLong(i) % p) + p) % p
      var j = 0
      while (j < numHashes) {
        val a_ = 2L * j + 1
        val b_ = (1099511628211L * (j + 1)) % p
        val v = (((h * a_ + b_) % p) + p) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val mins = ctx.freshName("mins")
      val aj = ctx.freshName("aj")
      val bj = ctx.freshName("bj")
      s"""
        int $n = $x.numElements();
        long[] $mins = new long[$numHashes];
        java.util.Arrays.fill($mins, Long.MAX_VALUE);
        for (int $i = 0; $i < $n; $i++) {
          long $h = (($x.getLong($i) % ${p}L) + ${p}L) % ${p}L;
          for (int $j = 0; $j < $numHashes; $j++) {
            long $aj = 2L * $j + 1;
            long $bj = (1099511628211L * ($j + 1)) % ${p}L;
            long $v = ((($h * $aj + $bj) % ${p}L) + ${p}L) % ${p}L;
            if ($v < $mins[$j]) $mins[$j] = $v;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Word k-shingles in one fused pass: joins every k-token window with a
  * single space — replaces the interpreted
  * `transform(sequence(...), i -> concat_ws(' ', slice(...)))` chain.
  * Fewer than k tokens ⇒ one shingle of the whole token list (same
  * degradation as [[graft.ops.Dedup.shingles]]). */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  import org.apache.spark.unsafe.types.UTF8String

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val sep = UTF8String.fromString(" ")
    val out =
      if (n < k) {
        val win = Array.tabulate(n)(i => x.getUTF8String(i))
        Array(UTF8String.concatWs(sep, win: _*))
      } else {
        Array.tabulate(n - k + 1) { i =>
          val win = Array.tabulate(k)(j => x.getUTF8String(i + j))
          UTF8String.concatWs(sep, win: _*)
        }
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val win = ctx.freshName("win")
      val sep = ctx.freshName("sep")
      val u = "org.apache.spark.unsafe.types.UTF8String"
      s"""
        int $n = $x.numElements();
        $u $sep = $u.fromString(" ");
        $u[] $out;
        if ($n < $k) {
          $u[] $win = new $u[$n];
          for (int $j = 0; $j < $n; $j++) $win[$j] = $x.getUTF8String($j);
          $out = new $u[] { $u.concatWs($sep, $win) };
        } else {
          $out = new $u[$n - $k + 1];
          for (int $i = 0; $i <= $n - $k; $i++) {
            $u[] $win = new $u[$k];
            for (int $j = 0; $j < $k; $j++)
              $win[$j] = $x.getUTF8String($i + $j);
            $out[$i] = $u.concatWs($sep, $win);
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData((Object[]) $out);
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** SQL-portable 64-bit token hash shared by the SimHash implementations:
  * the first 8 bytes of the md5 digest, big-endian — bit-identical to the
  * declarative `shiftleft(conv(substr(md5(t),1,8),16,10), 32) |
  * conv(substr(md5(t),9,8),16,10)` ([[graft.ops.Dedup.portableHash64]])
  * and to any engine's `md5()` hex prefix, so the driver's DuckDB oracle
  * can recompute signatures independently (md5 over xxhash64 for exactly
  * that portability — the rolling-fingerprint precedent). */
object PortableHash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Hash64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    ((dig(0) & 0xffL) << 56) | ((dig(1) & 0xffL) << 48) |
      ((dig(2) & 0xffL) << 40) | ((dig(3) & 0xffL) << 32) |
      ((dig(4) & 0xffL) << 24) | ((dig(5) & 0xffL) << 16) |
      ((dig(6) & 0xffL) << 8) | (dig(7) & 0xffL)
  }

  /** The four big-endian 32-bit FIELDS of the `j`-th md5 digest of a key
    * (j = 0: the bare digest; j > 0: digest of "j:key") — bit-identical
    * to `conv(substring(md5(…), 1 + 8*f, 8), 16, 10)` for f in 0..3, so
    * an SQL engine replays every field from the hex text. One digest
    * yields four independent hash fields — the Bloom-filter probe's
    * "k hashes for the price of one md5". */
  def md5Fields32(s: org.apache.spark.unsafe.types.UTF8String,
      j: Int): Array[Long] = {
    val d = md.get()
    d.reset()
    if (j != 0)
      d.update((j.toString + ":")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dig = d.digest(s.getBytes)
    def f(o: Int): Long =
      ((dig(o) & 0xffL) << 24) | ((dig(o + 1) & 0xffL) << 16) |
        ((dig(o + 2) & 0xffL) << 8) | (dig(o + 3) & 0xffL)
    Array(f(0), f(4), f(8), f(12))
  }

  /** 31-bit variant: the md5 digest's first 48 bits (big-endian) mod
    * 2^31−1 — bit-identical to the declarative
    * `pmod(conv(substring(md5(s),1,12),16,10), 2^31−1)`
    * ([[graft.ops.Dedup.portableHash31]]); 48-bit values are positive,
    * so `%` and `pmod` agree. */
  def md5Hash31(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    val h48 = ((dig(0) & 0xffL) << 40) | ((dig(1) & 0xffL) << 32) |
      ((dig(2) & 0xffL) << 24) | ((dig(3) & 0xffL) << 16) |
      ((dig(4) & 0xffL) << 8) | (dig(5) & 0xffL)
    h48 % 2147483647L
  }
}

/** [[PortableHash.md5Hash31]] over every element of a string array in one
  * fused loop — replaces the interpreted
  * `transform(arr, s -> pmod(conv(substring(md5(s),1,12),16,10), p))`
  * HOF, which allocates a 32-char hex string and parses it back per
  * shingle. Null elements map to null (matching the declarative
  * transform's null propagation). */
case class Md5Hash31Array(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType,
      containsNull = child.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
  override def prettyName: String = "md5_hash31_array"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i))
        out(i) = PortableHash.md5Hash31(x.getUTF8String(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
        int $n = $x.numElements();
        Object[] $out = new Object[$n];
        for (int $i = 0; $i < $n; $i++) {
          if (!$x.isNullAt($i))
            $out[$i] = (Object) graft.functions.PortableHash.md5Hash31(
              $x.getUTF8String($i));
        }
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Per-document Bloom-filter probe counts over a gram array in ONE fused
  * per-row pass: each gram pays one native md5 per digest group (k ≤ 4 =
  * exactly one — [[PortableHash.md5Fields32]]), its k bit positions are
  * tested against a driver-built long[] mask, and the row yields
  * (n_grams, n_maybe) directly — no position explode, no join, no
  * per-gram shuffle. The declarative hex/conv form paid a 32-char hex
  * round-trip per field and k separate md5s (Spark's subexpression
  * elimination missed the duplicates): 7.3 s vs 1.9 s on the bare gram
  * pass at the 10x bench point. */
object BloomStats {
  def statsRow(grams: ArrayData, mask: Array[Long], m: Int,
      k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    var n = 0L
    var maybe = 0L
    val cnt = grams.numElements()
    var i = 0
    while (i < cnt) {
      if (!grams.isNullAt(i)) {
        n += 1
        val g = grams.getUTF8String(i)
        var all = true
        var bit = 0
        var haveGrp = -1
        var fields: Array[Long] = null
        while (all && bit < k) {
          val grp = bit / 4
          if (grp != haveGrp) {
            fields = PortableHash.md5Fields32(g, grp)
            haveGrp = grp
          }
          val pos = fields(bit % 4) % m
          if ((mask((pos >> 6).toInt) & (1L << (pos & 63).toInt)) == 0)
            all = false
          bit += 1
        }
        if (all) maybe += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, maybe)
  }
}

case class BloomStatsExpr(child: Expression, mask: Array[Long], m: Int,
    k: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_grams",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_maybe",
        org.apache.spark.sql.types.LongType, nullable = false)))
  override def prettyName: String = "bloom_stats"

  override def nullSafeEval(a: Any): Any =
    BloomStats.statsRow(a.asInstanceOf[ArrayData], mask, m, k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val maskRef = ctx.addReferenceObj("bloomMask", mask, "long[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.BloomStats.statsRow(" +
        s"$x, $maskRef, $m, $k);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** 64-bit SimHash signature from a token array in ONE fused per-row loop:
  * [[PortableHash.md5Hash64]] per token (the SQL-portable md5-prefix
  * hash — replicable by the DuckDB oracle) feeding 64 bit counters + a
  * strict-majority vote. The per-row (shuffle-free) form of
  * [[graft.functions.SimHashAgg]] — a signature is
  * a pure function of one document's tokens, so computing it as a
  * projection avoids the explode + hash-aggregate + shuffle the aggregate
  * form needs (at corpus scale that shuffle carries every token).
  * Majority rule identical to the other implementations: bit i set iff
  * ones(i) * 2 > n; empty array ⇒ 0L; null elements skipped. */
case class SimHashBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash_bits"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val ones = new Array[Long](64)
    var cnt = 0L
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val h = PortableHash.md5Hash64(x.getUTF8String(i))
        var b = 0
        while (b < 64) { ones(b) += (h >>> b) & 1L; b += 1 }
        cnt += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (ones(b) * 2 > cnt) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val cnt = ctx.freshName("cnt")
      val ones = ctx.freshName("ones")
      val sig = ctx.freshName("sig")
      s"""
        int $n = $x.numElements();
        long[] $ones = new long[64];
        long $cnt = 0L;
        for (int $i = 0; $i < $n; $i++) {
          if (!$x.isNullAt($i)) {
            long $h = graft.functions.PortableHash.md5Hash64(
              $x.getUTF8String($i));
            for (int $b = 0; $b < 64; $b++) $ones[$b] += ($h >>> $b) & 1L;
            $cnt++;
          }
        }
        long $sig = 0L;
        for (int $b = 0; $b < 64; $b++)
          if ($ones[$b] * 2 > $cnt) $sig |= (1L << $b);
        ${ev.value} = $sig;
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** All hyperplane sign bits of an LSH signature in ONE fused loop: the
  * constant plane matrix is embedded as a codegen reference object, so a
  * `planes`-bit signature costs a single pass of primitive multiply-adds
  * instead of `planes` interpreted `aggregate(zip_with(...))` projections
  * per row. Sign convention matches
  * [[graft.ops.Similarity.signatureLsh]]: bit p set iff vec·plane_p ≥ 0. */
case class HyperplaneSignBits(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def prettyName: String = "lsh_sign_bits"

  @transient private lazy val planeArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var sig = 0L
    var p = 0
    while (p < planeArr.length) {
      val pl = planeArr(p)
      val n = math.min(x.numElements(), pl.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * pl(i); i += 1 }
      if (s >= 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planeArr, "double[][]")
    nullSafeCodeGen(ctx, ev, x => {
      val p = ctx.freshName("p")
      val pl = ctx.freshName("pl")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val sig = ctx.freshName("sig")
      s"""
        long $sig = 0L;
        for (int $p = 0; $p < $planesRef.length; $p++) {
          double[] $pl = $planesRef[$p];
          int $n = java.lang.Math.min($x.numElements(), $pl.length);
          double $s = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $s += $x.getDouble($i) * $pl[$i];
          }
          if ($s >= 0.0) $sig |= (1L << $p);
        }
        ${ev.value} = $sig;
      """
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The HLL per-key (register index, rank) pair fused into one digest +
  * bit arithmetic pass — bit-identical to the declarative
  * `pmod(conv(substr(md5(k),9,8),16,10), 2^b)` /
  * `65-b-length(bin((hi << (32-b)) + (lo >> b)))` column pair
  * ([[graft.ops.Sketches.hllIdxRho]]'s previous form, still replayed by
  * every oracle from the md5 hex), which allocated a 32-char hex string,
  * parsed two 8-char slices back to longs, and rendered a binary string
  * per input row. Null key → null struct (the callers' select keeps the
  * row out of the register aggregation, matching md5(null) = null
  * propagation in the declarative form). */
object HllHash {
  /** @return struct(idx: long, rho: long) for the md5 of `s` under
    *   2^b registers; bitlen via numberOfLeadingZeros = length(bin(w)). */
  def idxRho(s: org.apache.spark.unsafe.types.UTF8String,
      b: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val f = PortableHash.md5Fields32(s, 0)
    val hi = f(0)
    val lo = f(1)
    val w = (hi << (32 - b)) + (lo >> b)
    val rho =
      if (w == 0L) (65 - b).toLong
      else (65 - b).toLong - (64 - java.lang.Long.numberOfLeadingZeros(w))
    org.apache.spark.sql.catalyst.InternalRow(lo & ((1L << b) - 1), rho)
  }
}

/** Product-quantization assignment: per-subspace L2-argmin centroid ids
  * in ONE fused per-row loop — the projection form of the
  * explode → broadcast-join → sum(pow) → row_number-argmin pipeline
  * ([[graft.ops.Similarity.pqEncode]]'s previous shape, which carried
  * N×dims×ksub rows through a join and a window per (vector, subspace)).
  * The flattened codebook rides along as a codegen reference object
  * (kilobytes: m×ksub×subdim doubles, laid out
  * `(sub·ksub + cid)·subdim + pos`; absent (sub, cid) slots are NaN and
  * can never win the strict `<` argmin). Ties take the smaller centroid
  * id and null vector elements are skipped — both identical to the
  * declarative form (`ORDER BY d2, centroid_id` / sum-ignores-null). */
object PqAssign {
  def assign(x: ArrayData, books: Array[Double], m: Int,
      ksub: Int): ArrayData = {
    val subdim = books.length / (m * ksub)
    val dims = x.numElements()
    if (dims != m * subdim)
      throw new IllegalArgumentException(
        s"PQ requires vector dims divisible by m=$m with subspace width " +
          s"$subdim (expected ${m * subdim} dims, got $dims)")
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var best = 0L
      var bestD = Double.PositiveInfinity
      var cid = 0
      while (cid < ksub) {
        val base = (j * ksub + cid) * subdim
        var d2 = 0.0
        var p = 0
        while (p < subdim) {
          val xi = j * subdim + p
          if (!x.isNullAt(xi)) {
            val diff = x.getDouble(xi) - books(base + p)
            d2 += diff * diff
          }
          p += 1
        }
        if (d2 < bestD) { bestD = d2; best = cid.toLong }
        cid += 1
      }
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** See [[PqAssign.assign]]; input must already be `array<double>`. */
case class PqAssignExpr(child: Expression, books: Array[Double],
    m: Int, ksub: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "pq_assign"

  override def nullSafeEval(a: Any): Any =
    PqAssign.assign(a.asInstanceOf[ArrayData], books, m, ksub)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.PqAssign.assign(" +
        s"$x, $booksRef, $m, $ksub);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** IVF / k-means assignment: the nearest-centroid id by COSINE argmax in
  * one fused per-row loop — the projection form of
  * `crossJoin(broadcast(centroids)) → cosine → row_number argmin window`
  * ([[graft.ops.Similarity.ivfAssign]]'s previous shape, which sorted
  * N×k scored rows per assignment pass). Arithmetic is bit-identical to
  * the declarative `cosine` column: sequential dot over min(lengths),
  * sequential squared-norm sums, `dot / (|x|·|c|)` with the zero-norm →
  * 0.0 rule; centroids iterate in ascending id order with a strict `>`
  * argmax, so ties keep the smallest id exactly like
  * `ORDER BY sim DESC, centroid_id ASC`. Centroid vectors, their
  * precomputed norms (same sequential sum), and their ids ride along as
  * codegen reference objects — kilobytes by the IVF design point. */
object IvfAssign {
  def assign(x: ArrayData, cents: Array[Double], cnorms: Array[Double],
      ids: Array[Long], dims: Int): Long = {
    val n = x.numElements()
    val xn = VecMath.norm(x)
    // ids(0) (non-empty by the caller's rows.isEmpty guard), not 0L: when
    // every cosine is NaN (a NaN vector element poisons the dot product)
    // the strict > never fires, and the declarative window form this
    // replaces assigned the smallest REAL centroid id (NaN sorts first in
    // desc order, ties by id) — ids iterate ascending, so ids(0) is it
    var best = ids(0)
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < ids.length) {
      val base = c * dims
      val m = math.min(n, dims)
      var dot = 0.0
      var p = 0
      while (p < m) { dot += x.getDouble(p) * cents(base + p); p += 1 }
      val d = xn * cnorms(c)
      val sim = if (d == 0.0) 0.0 else dot / d
      if (sim > bestSim) { bestSim = sim; best = ids(c) }
      c += 1
    }
    best
  }
}

/** See [[IvfAssign.assign]]; input must already be `array<double>`. */
case class IvfAssignExpr(child: Expression, cents: Array[Double],
    cnorms: Array[Double], ids: Array[Long], dims: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "ivf_assign"

  override def nullSafeEval(a: Any): Any =
    IvfAssign.assign(a.asInstanceOf[ArrayData], cents, cnorms, ids, dims)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "double[]")
    val normsRef = ctx.addReferenceObj("ivfNorms", cnorms, "double[]")
    val idsRef = ctx.addReferenceObj("ivfIds", ids, "long[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.IvfAssign.assign(" +
        s"$x, $centsRef, $normsRef, $idsRef, $dims);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** See [[HllHash.idxRho]]; `b` is validated by the column wrapper. */
case class HllIdxRhoExpr(child: Expression, b: Int)
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("idx",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("rho",
      org.apache.spark.sql.types.LongType, nullable = false)))
  override def prettyName: String = "hll_idx_rho"

  override def nullSafeEval(a: Any): Any =
    HllHash.idxRho(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], b)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HllHash.idxRho($x, $b);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorFunctions {
  /** Inputs must already be `array<double>` (call sites cast). */
  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def lsh_sign_bits(vec: Column, planes: Seq[Seq[Double]]): Column =
    Bridge.column(HyperplaneSignBits(Bridge.expression(vec), planes))
  def vec_norm(a: Column): Column =
    Bridge.column(L2Norm(Bridge.expression(a)))
  def minhash_signature(hashed: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignature(Bridge.expression(hashed), numHashes))
  def word_shingles(tokens: Column, k: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(tokens), k))
  def simhash_bits(hashed: Column): Column =
    Bridge.column(SimHashBits(Bridge.expression(hashed)))
  def md5_hash31_array(arr: Column): Column =
    Bridge.column(Md5Hash31Array(Bridge.expression(arr)))
  def bloom_stats(grams: Column, mask: Array[Long], m: Int,
      k: Int): Column =
    Bridge.column(BloomStatsExpr(Bridge.expression(grams), mask, m, k))
  /** `key` must already be a string column (call sites cast). */
  def hll_idx_rho(key: Column, b: Int): Column =
    Bridge.column(HllIdxRhoExpr(Bridge.expression(key), b))
  /** `vec` must already be `array<double>` (call sites cast). */
  def pq_assign(vec: Column, books: Array[Double], m: Int,
      ksub: Int): Column =
    Bridge.column(PqAssignExpr(Bridge.expression(vec), books, m, ksub))
  /** `vec` must already be `array<double>` (call sites cast). */
  def ivf_assign(vec: Column, cents: Array[Double], cnorms: Array[Double],
      ids: Array[Long], dims: Int): Column =
    Bridge.column(IvfAssignExpr(Bridge.expression(vec), cents, cnorms,
      ids, dims))
}
