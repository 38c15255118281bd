package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native MinHash signature over an `array<string>` shingle set.
  *
  * Semantics identical to the HOF formulation in
  * [[graft.dedup.Dedup.minhashSignature]]'s original form:
  * `sig[j] = min over shingles s of (a_j * (xxhash64(s) mod p) + b_j) mod p`
  * with p = 2^31-1 and coefficients < 2^31 (so `a*h + b < 2^63`, no
  * overflow). The HOF version (`aggregate` + `zip_with`) interprets a lambda
  * and allocates a 128-element array per shingle; this compiles to a tight
  * `|shingles| × numHashes` primitive loop in whole-stage codegen.
  */
case class MinHashSignature(child: Expression, as: Array[Long], bs: Array[Long])
    extends UnaryExpression {

  private val p = 2147483647L // 2^31 - 1, prime
  private val numHashes = as.length
  require(bs.length == numHashes, "as/bs length mismatch")

  // The coefficients stay primitive arrays (codegen indexes them directly),
  // but Array equality is reference identity, which would defeat Catalyst
  // canonicalization: two signature columns built from equal-seed
  // MinHashParams instances (separately-constructed pipelines, the SQL
  // function face) must compare equal for CSE / ReusedExchange to see one
  // computation. Same contract as [[BloomMightContain]]; hashCode samples
  // O(1) of each array, consistent with equals.
  override def equals(other: Any): Boolean = other match {
    case o: MinHashSignature =>
      child == o.child && java.util.Arrays.equals(as, o.as) &&
        java.util.Arrays.equals(bs, o.bs)
    case _ => false
  }
  override def hashCode(): Int = {
    def sample(xs: Array[Long]): Long =
      if (xs.isEmpty) 0L else xs(0) ^ xs(xs.length - 1) ^ xs.length
    java.util.Objects.hash(child,
      java.lang.Long.valueOf(sample(as)), java.lang.Long.valueOf(sample(bs)))
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val raw = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        val h = ((raw % p) + p) % p
        var j = 0
        while (j < numHashes) {
          val v = (as(j) * h + bs(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val mins = ctx.freshName("mins")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $c.numElements();
         |final long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |    $h = (($h % ${p}L) + ${p}L) % ${p}L;
         |    for (int $j = 0; $j < $numHashes; $j++) {
         |      long $v = ($asRef[$j] * $h + $bsRef[$j]) % ${p}L;
         |      if ($v < $mins[$j]) $mins[$j] = $v;
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($mins);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** FNV-1a 64-bit constants — a public-domain hash (Fowler/Noll/Vo) simple
  * enough that ANY engine can recompute it (the DuckDB oracle replicates it
  * with HUGEINT arithmetic), making FNV-keyed signatures engine-portable.
  */
object Fnv1a {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L
  def hash(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= Prime; i += 1 }
    h
  }
}

/** Native FNV-1a 64-bit hash of a string column (over its UTF-8 bytes). */
case class Fnv1a64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    Fnv1a.hash(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bs = ctx.freshName("bs")
      val h = ctx.freshName("h")
      val q = ctx.freshName("q")
      s"""
         |byte[] $bs = $c.getBytes();
         |long $h = ${Fnv1a.Offset}L;
         |for (int $q = 0; $q < $bs.length; $q++) {
         |  $h ^= ($bs[$q] & 0xffL);
         |  $h *= ${Fnv1a.Prime}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Blocked-bitmap Bloom filter helpers shared by the build (driver or
  * per-partition bitmap OR) and the probe expression. Hashing is `numHashes`
  * independent XXH64 passes (seed = hash index) over the string's UTF-8
  * bytes, positions mod `m` — standard partitioned-hash Bloom semantics.
  */
object BloomUtil {
  /** (bit count m rounded up to a word multiple, hash count k) for an
    * expected `n` elements at false-positive rate `fpp`:
    * m = -n·ln(fpp)/ln²2, k = (m/n)·ln2.
    */
  def sized(n: Long, fpp: Double): (Long, Int) = {
    require(fpp > 0 && fpp < 1, s"fpp out of (0,1): $fpp")
    val m0 = math.max(64L,
      math.ceil(-n.toDouble * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val m = (m0 + 63) / 64 * 64
    // callers allocate `new Array[Long]((m >>> 6).toInt)`: FROM 2^37 bits
    // (16 GiB — already far beyond a sane single bitmap) the Int cast
    // overflows into a negative array size — at exactly 2^37 the word count
    // is 2^31, one past Int.MaxValue, so the bound is strict. Fail loudly.
    require(m < (1L << 37),
      s"bloom bitmap of $m bits (n=$n, fpp=$fpp) exceeds the 2^37 single-array bound — " +
        "build per-partition bitmaps and OR-reduce them (see bloomDecontaminate's scaladoc)")
    (m, math.max(1, math.round(m.toDouble / n * math.log(2)).toInt))
  }

  def add(s: org.apache.spark.unsafe.types.UTF8String, bits: Array[Long],
          numHashes: Int, m: Long): Unit = {
    var i = 0
    while (i < numHashes) {
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, i.toLong)
      val pos = java.lang.Math.floorMod(h, m)
      bits((pos >>> 6).toInt) |= 1L << (pos & 63)
      i += 1
    }
  }

  def contains(s: org.apache.spark.unsafe.types.UTF8String, bits: Array[Long],
               numHashes: Int, m: Long): Boolean = {
    var i = 0
    while (i < numHashes) {
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, i.toLong)
      val pos = java.lang.Math.floorMod(h, m)
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Long-keyed variants: the member is an 8-byte fingerprint (e.g. a span
    * FNV), not a string — the build side collects longs, ~12× less driver
    * traffic than the span strings they fingerprint, and the probe hashes
    * one word instead of re-walking bytes.
    */
  def addLong(v: Long, bits: Array[Long], numHashes: Int, m: Long): Unit = {
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Math.floorMod(XXH64.hashLong(v, i.toLong), m)
      bits((pos >>> 6).toInt) |= 1L << (pos & 63)
      i += 1
    }
  }

  def containsLong(v: Long, bits: Array[Long], numHashes: Int, m: Long): Boolean = {
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Math.floorMod(XXH64.hashLong(v, i.toLong), m)
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** Native Bloom-filter membership probe over a string column. The bitmap
  * rides into codegen as a referenced `long[]` (~1.2 bytes/element at 1%
  * fpp — ~30× smaller than broadcasting the member strings), and the probe
  * is `k` XXH64 passes + bit tests inside whole-stage codegen. False
  * positives at rate `fpp` are the caller's contract — pair with an exact
  * verification join when the output must be exact (see
  * [[graft.pipeline.TrainingData.bloomDecontaminate]]).
  */
case class BloomMightContain(child: Expression, bits: Array[Long],
                             numHashes: Int, m: Long) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  // The bitmap stays a primitive Array (a Seq[Long] would box every word —
  // bitmaps reach GBs), but Array equality is reference identity, which
  // would defeat Catalyst canonicalization / common-subexpression
  // elimination: compare contents instead. hashCode samples O(1) of the
  // bitmap (consistent with equals; full-array hashing of a GB bitmap per
  // semanticHash call is not).
  override def equals(other: Any): Boolean = other match {
    case o: BloomMightContain =>
      child == o.child && numHashes == o.numHashes && m == o.m &&
        java.util.Arrays.equals(bits, o.bits)
    case _ => false
  }
  override def hashCode(): Int = {
    val sample = if (bits.isEmpty) 0L else bits(0) ^ bits(bits.length - 1) ^ bits.length
    java.util.Objects.hash(child, Integer.valueOf(numHashes),
      java.lang.Long.valueOf(m), java.lang.Long.valueOf(sample))
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    BloomUtil.contains(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      bits, numHashes, m)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.BloomUtil.contains($c, $bitsRef, $numHashes, ${m}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[BloomMightContain]] for a LONG child: probes an 8-byte fingerprint
  * column against a fingerprint-built bitmap (see [[BloomUtil.addLong]]).
  * Same canonicalization contract — content equality over the bitmap with an
  * O(1) sampled hash.
  */
case class BloomMightContainLong(child: Expression, bits: Array[Long],
                                 numHashes: Int, m: Long) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_long"

  override def equals(other: Any): Boolean = other match {
    case o: BloomMightContainLong =>
      child == o.child && numHashes == o.numHashes && m == o.m &&
        java.util.Arrays.equals(bits, o.bits)
    case _ => false
  }
  override def hashCode(): Int = {
    val sample = if (bits.isEmpty) 0L else bits(0) ^ bits(bits.length - 1) ^ bits.length
    java.util.Objects.hash(child, Integer.valueOf(numHashes),
      java.lang.Long.valueOf(m), java.lang.Long.valueOf(sample))
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    BloomUtil.containsLong(input.asInstanceOf[Long], bits, numHashes, m)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bitsRef = ctx.addReferenceObj("bloomBits", bits, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.BloomUtil.containsLong($c, $bitsRef, $numHashes, ${m}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 64-bit SimHash over an `array<string>` token column: each token's
  * 64-bit hash votes ±1 per bit position; the sign vector packs MSB-first
  * (bit 63 of the hash → bit 63 of the result, matching the original HOF
  * `aggregate(reverse(votes))` packing). One `|tokens| × 64` primitive loop
  * in codegen.
  *
  * `useFnv = true` (the default in [[graft.dedup.Dedup.simhash64]]) hashes
  * tokens with FNV-1a instead of xxhash64: same quality class for blocking,
  * but engine-portable — the DuckDB oracle recomputes the full simhash and
  * verifies the pair output row-for-row, and at 100 TB any downstream system
  * can re-derive signatures without a Spark dependency.
  */
case class SimHash64(child: Expression, useFnv: Boolean = false) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Long](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h =
          if (useFnv) Fnv1a.hash(s.getBytes)
          else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var k = 0
        while (k < 64) { votes(k) += ((h >>> k) & 1L) * 2L - 1L; k += 1 }
      }
      i += 1
    }
    var packed = 0L
    var k = 63
    while (k >= 0) { packed = (packed << 1) | (if (votes(k) >= 0) 1L else 0L); k -= 1 }
    packed
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val bs = ctx.freshName("bs")
      val q = ctx.freshName("q")
      val packed = ctx.freshName("packed")
      val hashCode =
        if (useFnv)
          s"""byte[] $bs = $s.getBytes();
             |    long $h = ${Fnv1a.Offset}L;
             |    for (int $q = 0; $q < $bs.length; $q++) { $h ^= ($bs[$q] & 0xffL); $h *= ${Fnv1a.Prime}L; }""".stripMargin
        else
          s"""long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
             |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);""".stripMargin
      s"""
         |final int $n = $c.numElements();
         |final long[] $votes = new long[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($i);
         |    $hashCode
         |    for (int $k = 0; $k < 64; $k++) {
         |      $votes[$k] += (($h >>> $k) & 1L) * 2L - 1L;
         |    }
         |  }
         |}
         |long $packed = 0L;
         |for (int $k = 63; $k >= 0; $k--) {
         |  $packed = ($packed << 1) | ($votes[$k] >= 0 ? 1L : 0L);
         |}
         |${ev.value} = $packed;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
