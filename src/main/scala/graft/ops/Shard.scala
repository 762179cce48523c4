package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic global shuffle + shard layout (training-data op): the
 * "globally shuffle the corpus, then cut it into fixed-size shards"
 * stage between packing and the data loader. Training runs need the
 * shuffle to be SEEDED and REPRODUCIBLE — `orderBy(rand())` gives a
 * different epoch order on every retry/resume, and a straggler retask
 * re-rolls its rows — so the order key is a deterministic permutation
 * of the document id, not a sampled random number.
 *
 * Permutation: the affine map k(id) = (a·id + b) mod p over Z_p with p
 * prime and a ∈ [1, p) — a bijection on Z_p (a is invertible mod a
 * prime), hence injective on any id set ⊂ [0, p). This is the classic
 * multiplicative-congruential scrambler (Lehmer 1951; MINSTD a=48271,
 * p=2^31−1 per Park–Miller CACM 1988); different (a, b) seeds give
 * different epoch orders. Everything is integer arithmetic both Spark
 * and any SQL oracle express identically — no float, no rand().
 *
 * Scale shape: the global ordinal over permuted-key order is a
 * [[PrefixScan]] row count over (id, key) 16-byte rows; text/media never
 * travel — the layout is metadata the loader joins back at read time.
 * A shard is `shardSize` consecutive ordinals, so each shard's permuted
 * keys form a contiguous range — the manifest's (min_key, max_key) per
 * shard are non-overlapping, which makes shard-level resume/audit a
 * range check.
 */
object Shard {

  /** k(id) = (a·id + b) mod p. Contract: 0 ≤ id < p, p prime,
    * 1 ≤ a < p, 0 ≤ b < p, and a·(p−1)+b must fit in a signed 64-bit
    * long (checked) — at the 10^10-id design point with p ≈ 2^34 this
    * admits a up to ~2^29. */
  def permKey(id: Column, a: Long, b: Long, p: Long): Column = {
    require(p >= 2, s"modulus must be >= 2, got $p")
    require(a >= 1 && a < p, s"multiplier must be in [1, p), got $a")
    require(b >= 0 && b < p, s"offset must be in [0, p), got $b")
    require(a <= (Long.MaxValue - b) / (p - 1),
      s"a*(p-1)+b overflows 64-bit: a=$a b=$b p=$p")
    (id * lit(a) + lit(b)) % lit(p)
  }

  /** Global shuffle layout of `docs`: one row per input row with
    * (idCol, perm_key, ordinal, shard, pos_in_shard) — ordinal is the
    * 0-based global position in permuted order, shard = ordinal DIV
    * shardSize, pos_in_shard = ordinal MOD shardSize. Ordering is total
    * (perm_key is injective on distinct ids), so the layout is a pure
    * function of (ids, a, b, p, shardSize). Under `maxDriverDocs` docs
    * the ordinals are counted on the driver (see
    * [[PrefixScan.exclusiveSum]]). */
  def globalShuffleLayout(docs: DataFrame, idCol: String, a: Long, b: Long,
      p: Long, shardSize: Long, nParts: Int = 32,
      maxDriverDocs: Int = PrefixScan.MaxDriverDocs): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    val slim = docs.select(col(idCol), permKey(col(idCol), a, b, p).as("perm_key"))
    val (scanned, _) = PrefixScan.exclusiveSum(slim,
      Seq(PrefixScan.Key("perm_key")), None, nParts, maxDriverDocs)
    val ordinal = PrefixScan.Prefix
    scanned.select(col(idCol), col("perm_key"), col(ordinal).as("ordinal"),
      expr(s"$ordinal DIV $shardSize").as("shard"),
      (col(ordinal) % lit(shardSize)).as("pos_in_shard"))
  }

  /** Per-shard manifest over a [[globalShuffleLayout]] result joined
    * with a weight (e.g. token counts): (shard, n_docs, weight,
    * min_key, max_key). Because shards are ordinal-contiguous, the
    * [min_key, max_key] ranges of distinct shards never overlap — the
    * audit invariant a resume/loader check uses. One map-side-partial
    * groupBy; the weight join stays (id, long)-slim. */
  def manifest(layout: DataFrame, idCol: String,
      weights: DataFrame, weightCol: String): DataFrame =
    layout
      .join(weights.select(col(idCol), col(weightCol).as("__w")), Seq(idCol))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("weight"),
        min(col("perm_key")).as("min_key"),
        max(col("perm_key")).as("max_key"))
}
