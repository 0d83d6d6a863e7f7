package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for LLM-training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH banding, and n-gram Jaccard
  * verification. All are pure DataFrame compositions of codegen'd
  * built-ins — no UDFs — so they stay in whole-stage codegen and scale
  * with an ordinary shuffle.
  *
  * Scale design (100 TB): exact dedup is one hash aggregation on a 128-bit
  * digest (no full-text shuffle — only the digest + id move). MinHash
  * candidate generation shuffles (band_idx, band_hash, id) triples — tiny
  * rows — and the quadratic within-bucket pair expansion is bounded by
  * `maxBucket` (oversized buckets are near-identical boilerplate clusters;
  * capping them is standard practice, cf. Lee et al. 2022 "Deduplicating
  * Training Data Makes Language Models Better"). Exact-Jaccard
  * verification then touches only candidate pairs, never the cross
  * product.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct text, with the survivor
    * (minimum id), copy count, and the 128-bit digest grouped on.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Character n-gram shingle set (distinct) of `textCol`. */
  def shingles(textCol: String, n: Int): Column =
    expr(
      s"array_distinct(transform(sequence(1, greatest(length($textCol) - ${n - 1}, 1)), " +
        s"i -> substring($textCol, i, $n)))")

  /** Deterministic MinHash signature via the native Catalyst expression
    * [[graft.functions.MinHashSig]] (one codegen'd pass per document; the
    * HOF formulation this replaced was ~150× slower — see MinHashSig
    * scaladoc). Built from the expression class, so it works on any
    * session, with or without [[graft.GraftExtensions]].
    */
  def minHashSignature(textCol: String, numHashes: Int, shingleSize: Int): Column =
    graft.functions.MinHashSig.toCol(col(textCol), numHashes, shingleSize)

  /** Bucket-size gate + within-bucket pair expansion, shared by the
    * MinHash and SimHash candidate generators: window-count the
    * (band_idx, band key) buckets, drop singletons and buckets over
    * `maxBucket` (a giant bucket is a boilerplate cluster; expanding it
    * quadratically is slow and pointless — NOTE this caps recall for
    * groups larger than maxBucket), then a codegen'd equi-self-join
    * emits each bucket's pairs (a collect_list + nested-HOF expansion
    * produced identical pairs 2.4× slower — HOF lambdas are interpreted).
    * ReuseExchange shares the one shuffle between the two join sides.
    * Expects columns (__id, band_idx, band_key).
    */
  private def bandedPairs(banded: DataFrame, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band_idx", "band_key")
    val gated = banded
      .withColumn("__cnt", count(lit(1)).over(w))
      .filter(col("__cnt").between(2, maxBucket))
      .drop("__cnt")
    gated.alias("x")
      .join(
        gated.alias("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.__id") < col("y.__id"))
  }

  /** LSH candidate pairs: split the signature into `bands` bands, hash
    * each band, and emit each id into its (band_idx, band_hash) bucket;
    * ids sharing a bucket become candidate pairs (id_a < id_b, distinct).
    * Buckets larger than `maxBucket` are dropped with their size reported
    * in `overflow` — at scale a giant bucket means a boilerplate cluster,
    * and expanding it quadratically is both slow and pointless.
    */
  def minHashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sig = minHashSignature(textCol, numHashes, shingleSize)
    val banded = Spread.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("__id"), sig.as("__sig"))
      .select(
        col("__id"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> hash(slice(__sig, b * $rows + 1, $rows)))"))
          .as(Seq("band_idx", "band_key")))
    bandedPairs(banded, maxBucket)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
  }

  /** Candidate pairs for SUB-document dedup: every id pair sharing at
    * least one chunk digest in `chunksCol` (an array column, e.g. from
    * [[graft.functions.RollingChunks]]). Unlike MinHash banding
    * (probabilistic), the "shares a digest" relation here is EXACT —
    * including through oversized buckets: a digest shared by more than
    * `maxBucket` docs is NOT dropped but star-expanded (every member
    * pairs with the bucket's minimum id, O(bucket) pairs instead of
    * O(bucket²)). The emitted pair LIST is therefore complete only for
    * buckets ≤ `maxBucket`, but the CONNECTIVITY of the share-a-chunk
    * graph — what connected-components dedup consumes — is exact always:
    * all members of an oversized bucket stay linked through its minimum
    * id.
    */
  def sharedChunkPairs(
      df: DataFrame,
      idCol: String,
      chunksCol: String,
      maxBucket: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band_key")
    val counted = df
      .select(col(idCol).as("__id"), explode(col(chunksCol)).as("band_key"))
      .distinct() // a digest repeated within one doc must count once
      .withColumn("__cnt", count(lit(1)).over(w))
    val normal = counted.filter(col("__cnt").between(2, maxBucket))
      .drop("__cnt")
    val quadratic = normal.alias("x")
      .join(
        normal.alias("y"),
        col("x.band_key") === col("y.band_key") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
    val star = counted.filter(col("__cnt") > maxBucket)
      .withColumn("__min", min(col("__id")).over(w))
      .filter(col("__id") =!= col("__min"))
      .select(col("__min").as("id_a"), col("__id").as("id_b"))
    quadratic.union(star).distinct()
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs.
    * `pairs` must have columns (id_a, id_b); texts are joined back from
    * `df` — two broadcast-or-shuffle hash joins on the id, then a
    * per-row set intersection (codegen'd array built-ins).
    */
  /** Cost shape (measured at sf0.1, 5k docs → 176k candidate pairs):
    * Catalyst inlines the `jaccard >= threshold` filter into the join
    * condition, so the similarity computation runs once per CANDIDATE
    * pair during the hash-join probe. With higher-order-function shingle
    * expressions that cost ~165 s (2×176k interpreted array builds);
    * with the native [[graft.functions.NGramJaccard]] expression each
    * probe is a fused O(len) JVM pass — the whole verify is ~1 s. Texts
    * join to the pairs by id (raw strings move, never shingle arrays),
    * and the `pairs` lineage appears exactly once in the plan.
    */
  def jaccardVerify(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      threshold: Double): DataFrame = {
    // PRE-shingle each document ONCE (sorted-distinct hash array) and
    // ship the array through the join instead of the raw text: a doc in
    // p candidate pairs was re-shingled p times inside the per-pair
    // ngram_jaccard — ~100× redundant work at sf1 (52 pairs/doc/side).
    // SortedJaccard over two prebuilt arrays is value-IDENTICAL to
    // ngram_jaccard over the texts (same FNV-1a hashes, same merge), so
    // oracles are untouched. The count prefilter (J ≤ min/max of the
    // distinct-shingle counts — an EXACT bound) comes free as the array
    // length and still gates the per-pair merge.
    val sh = graft.internal.Cols.of(
      graft.functions.NGramShingles(
        graft.internal.Cols.expressionOf(col(textCol)), shingleSize))
    val docsSel = df
      .select(col(idCol), sh.as("__sh"))
      .withColumn("__cnt", size(col("__sh")))
    def sortedJaccard(a: Column, b: Column): Column =
      graft.internal.Cols.of(graft.functions.SortedJaccard(
        graft.internal.Cols.expressionOf(a),
        graft.internal.Cols.expressionOf(b)))
    // AQE coalesces the candidate-pair shuffle to ~1 partition (it sizes
    // by BYTES — a few MB of id pairs — and cannot see that the join
    // condition below does O(shingles) work per pair), serializing
    // the whole verify onto one core. An explicit repartition pins the
    // parallelism: measured 8.8 s → 2.0 s at sf0.1 (176k pairs).
    val spread = pairs.repartition(df.sparkSession.sparkContext.defaultParallelism)
    spread
      .join(
        docsSel.select(
          col(idCol).as("id_a"), col("__sh").as("__sh_a"), col("__cnt").as("__cnt_a")),
        Seq("id_a"))
      .join(
        docsSel.select(
          col(idCol).as("id_b"), col("__sh").as("__sh_b"), col("__cnt").as("__cnt_b")),
        Seq("id_b"))
      .withColumn(
        "jaccard",
        when(
          least(col("__cnt_a"), col("__cnt_b")).cast("double") /
            greatest(col("__cnt_a"), col("__cnt_b")) >= threshold,
          sortedJaccard(col("__sh_a"), col("__sh_b")))
          .otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** End-to-end near-duplicate detection: MinHash+LSH candidates →
    * exact-Jaccard verification.
    */
  def nearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 5,
      threshold: Double = 0.4,
      maxBucket: Int = 1000): DataFrame =
    jaccardVerify(
      df,
      minHashCandidates(df, idCol, textCol, numHashes, bands, shingleSize, maxBucket),
      idCol, textCol, shingleSize, threshold)

  /** SimHash fingerprints via the custom Catalyst expression
    * [[graft.functions.SimHash64]].
    */
  def simHashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Spread.ensure(df.select(col(idCol), col(textCol)))
      .select(col(idCol), graft.functions.SimHash64.toCol(col(textCol)).as("simhash"))
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`,
    * by exact-band candidate generation (Manku et al., WWW'07 "Detecting
    * near-duplicates for web crawling"): split the 64-bit fingerprint
    * into `bands` equal bands — two fingerprints within Hamming k < bands
    * must agree EXACTLY on at least one band (pigeonhole), so a per-band
    * equi-self-join finds every such pair; the cheap popcount
    * verification then filters false positives. Shuffles only
    * (band_idx, band_value, id) triples — same scale shape as the
    * MinHash path.
    *
    * Requires `2 ≤ bands` and `maxHamming < bands` for the pigeonhole
    * guarantee (default: k ≤ 3 with 4 bands of 16 bits). CAVEAT: like
    * [[minHashCandidates]], buckets larger than `maxBucket` are dropped —
    * a duplicate group bigger than the cap loses its pairs; raise the
    * cap (memory/time permitting) when completeness over giant
    * boilerplate clusters matters.
    */
  def simHashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = 10000): DataFrame = {
    require(maxHamming < bands, "pigeonhole guarantee needs maxHamming < bands")
    require(bands >= 2 && 64 % bands == 0, "bands must be in {2,4,8,16,32,64}")
    val width = 64 / bands
    val fp = simHashFingerprints(df, idCol, textCol)
      .select(col(idCol).as("__id"), col("simhash"))
    val banded = fp.select(
      col("__id"),
      col("simhash"),
      posexplode(expr(
        // bitwise slice (NOT div/mod, which misbehave on negative longs)
        s"transform(sequence(0, ${bands - 1}), b -> " +
          s"shiftright(simhash, b * $width) & ${(1L << width) - 1})"))
        .as(Seq("band_idx", "band_key")))
    bandedPairs(banded, maxBucket)
      .select(
        col("x.__id").as("id_a"),
        col("y.__id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
