package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hashing primitives for sketch-based dedup (MinHash signatures,
  * LSH band keys, and SimHash bit-vote components) and the seeded
  * md5 document hash of the sampling operators.
  *
  * All hashes are deterministic expressions (xxhash64 + affine
  * transforms over a prime field), so signatures are reproducible
  * across runs and cluster sizes — a hard requirement when dedup
  * output feeds downstream training-data pipelines.
  */
object hashing {

  /** Prime field for the affine MinHash permutations. */
  val P: Long = 1000000007L

  /** Deterministic per-permutation coefficients (splitmix-style). */
  private def coef(i: Int, salt: Long): Long = {
    var z = i.toLong * 0x9e3779b97f4a7c15L + salt
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    math.floorMod(z ^ (z >>> 31), P - 1) + 1
  }

  /** Map a token to a point in [0, P). */
  def tokenHash(t: Column): Column = pmod(xxhash64(t), lit(P))

  /** MinHash signature (array of numPerm longs) over a token-set
    * column. One pass builds the base hashes; all numPerm affine
    * permutation minima are computed by the fused
    * graft.plans.MinHashSig expression (single pass, no per-perm
    * array allocation) — no shuffle, linear in corpus size (the scale
    * path vs naive O(n²) pairwise Jaccard). */
  def minhashSignature(tokenSet: Column, numPerm: Int): Column = {
    val as = (0 until numPerm).map(coef(_, 0x5DEECE66DL)).toArray
    val bs = (0 until numPerm).map(coef(_, 0x2545F4914F6CDD1DL)).toArray
    graft.plans.MinHashSig(transform(tokenSet, tokenHash(_)), numPerm, P, as, bs)
  }

  /** LSH band keys: hash each r-row slice of the signature into one
    * bucket id per band. Docs sharing any (band, bucket) are candidate
    * pairs. */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array(
      (0 until bands).map { j =>
        struct(
          lit(j).as("band"),
          hash(slice(sig, j * rows + 1, rows)).as("bucket")
        )
      }: _*
    )

  /** md5 hex of "id:seed" — the seeded document hash behind samp06's
    * within-shard order and samp08/samp12/samp13's keep decisions:
    * uniform, spelled identically in every engine, re-dealt by the
    * seed. */
  def seededMd5(id: Column, seed: Int): Column =
    md5(concat(id.cast("string"), lit(":" + seed)))

  /** The first 8 hex chars of an md5 hex string as an unsigned 32-bit
    * integer (bigint) — exact in both engines, so an integer threshold
    * on it is bit-reproducible. */
  def md5U32(hex: Column): Column =
    conv(substring(hex, 1, 8), 16, 10).cast("long")
}
