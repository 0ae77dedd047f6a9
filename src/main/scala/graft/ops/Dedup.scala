package graft.ops

import graft.functions._
import graft.sources.FormatIO
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup. None of them ever does an all-pairs
  * compare — candidates come from hash buckets, and bucket size is capped
  * (`maxBucket`) so a degenerate key can't explode the verify join at 100 TB.
  */
object Dedup {

  /** Normalized multi-column content key shared by [[exact]] and
    * [[dedupAgainst]]: per-column `lower(trim(...))`, a NULL column mapped
    * to a reserved marker (NULL content is content, and concat_ws would
    * otherwise SKIP it entirely - making (NULL, "x") and ("x", NULL)
    * collide), and columns joined with a \\u0001 boundary so ("ab", "c")
    * and ("a", "bc") hash differently. 32 raw digest bytes (see
    * [[exact]]'s key-width note).
    */
  private def contentKey(contentCols: Seq[String]): Column = {
    val normed = contentCols.map(c => coalesce(lower(trim(col(c))), lit("\u0002")))
    unhex(sha2(concat_ws("\u0001", normed: _*), 256))
  }

  /** Exact dedup: hash the normalized content columns, keep one canonical row
    * per hash (the one with the smallest `idCol`), and report the group size.
    * One shuffle (hash groupBy with map-side partial aggregation); the content
    * itself never shuffles twice — `min_by(struct(*), id)` carries the
    * canonical row through the aggregation. The group key is the RAW 32-byte
    * digest (`unhex` of sha2's hex rendering), not the 64-char hex string —
    * half the key width through the one shuffle that touches every row.
    */
  def exact(df: DataFrame, contentCols: Seq[String], idCol: String): DataFrame = {
    val h = contentKey(contentCols)
    df.groupBy(h.as("content_hash"))
      .agg(
        min_by(struct(df.columns.toSeq.map(col): _*), col(idCol)).as("_row"),
        count(lit(1)).as("n_dups"))
      .select(col("_row.*"), col("n_dups"))
  }

  /** Ordered candidate pairs (a < b) from bucket membership: explode bucket
    * keys, group docs by bucket, drop singleton and oversized buckets, and
    * emit each within-bucket pair once. `maxBucket` bounds the quadratic
    * within-bucket blowup — an oversized bucket means the key carries no
    * selectivity (e.g. an empty-text band), so its pairs are noise at any
    * scale; we drop it rather than salt it, since salting would silently lose
    * cross-salt pairs anyway.
    *
    * The drop is NOT free in recall terms: a true near-dup pair whose only
    * shared buckets are oversized is lost. Pass an [[Observation]] via
    * `metrics` to see it happening — after the first action it reports
    * `n_buckets` / `n_dropped_buckets` / `n_dropped_ids` (bucket memberships
    * in dropped buckets), collected during execution at zero extra cost
    * (`Dataset.observe`, no second job).
    */
  private[graft] def bucketPairs(
      ids: DataFrame, // columns: id, bucketKey (any type)
      maxBucket: Int,
      metrics: Option[Observation] = None): DataFrame = {
    val sized = ids
      .groupBy(col("bucketKey"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
    val observed = metrics.map { o =>
      sized.observe(o,
        count(lit(1)).as("n_buckets"),
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)).as("n_dropped_buckets"),
        sum(when(size(col("ids")) > maxBucket, size(col("ids")).cast("long"))
          .otherwise(0L)).as("n_dropped_ids"))
    }.getOrElse(sized)
    val grouped = observed.filter(size(col("ids")).between(2, maxBucket))
    val pairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, size(col("ids"))), b => struct(a.as("a"), b.as("b")))))
    grouped
      .select(explode(pairs).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .distinct()
  }

  /** MinHash + banded LSH near-dup detection with exact n-gram Jaccard
    * verification inside buckets. Returns (a_id, b_id, jaccard) pairs with
    * jaccard >= `threshold`, a_id < b_id.
    *
    * Shape per 100 TB: the shingle set explodes to narrow (id, hash) rows and
    * everything downstream is hash aggregation and shuffle joins — signatures
    * + band digests come from ONE imperative aggregation
    * ([[org.apache.spark.sql.graft.MinHashBandsAgg]], map-side partial, one
    * shuffle by id), candidates come from one shuffle of `bands` small rows
    * per doc, and the Jaccard verify is a count of matching hashes per
    * candidate pair, never an all-pairs compare. (The tempting alternative —
    * per-row array expressions via transform/aggregate — runs interpreted,
    * re-evaluates shared sub-expressions per reference, and was measured 10x+
    * slower; see git history.)
    */
  def minHashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = 100,
      metrics: Option[Observation] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")

    // narrow exploded shingle-hash table: (id, h), distinct per doc by
    // construction; tokens materialize in their own projection first (see
    // shinglesFromTokens scaladoc — inlining the tokenizer re-splits the
    // text once per shingle)
    // lazily checkpointed: the exploded table feeds the signature aggregation
    // AND both sides of the Jaccard verify — without the checkpoint the
    // tokenize+shingle+hash pass runs three times
    val ex = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(shingleHashesFromTokens(col("_toks"), shingleN)).as("h"))
      .localCheckpoint(false)

    // signature + band digests in ONE imperative aggregation (see
    // MinHashBandsAgg): per shingle row the base hash is computed once and
    // re-seeded numHashes times into a primitive min-buffer, vs numHashes
    // independent min(xxhash64(h, i)) columns each re-hashing h; band buckets
    // are bit-exact with the previous xxhash64(array(mins)) digests
    val sig = ex.groupBy(col("id"))
      .agg(org.apache.spark.sql.graft.MinHashBandsAgg(col("h"), numHashes, bands)
        .as("_bands"))
    val banded = sig
      .select(col("id"), posexplode(col("_bands")).as(Seq("band", "bucket")))
      .select(col("id"), struct(col("band"), col("bucket")).as("bucketKey"))
    val cand = bucketPairs(banded, maxBucket, metrics)
    jaccardVerify(cand, ex, threshold)
  }

  /** Incremental MinHash+LSH near-dup detection — [[minHashLsh]]'s
    * cross-corpus form, completing the near-dup family the way
    * [[dedupAgainst]]/[[dedupWindowsAgainst]] complete their exact
    * counterparts: (batch_id, ref_id, jaccard) pairs where a NEW batch doc
    * near-duplicates an ACCEPTED reference doc at `jaccard >= threshold`.
    * No batch×batch pairs (that is [[minHashLsh]] on the batch) and no
    * ref×ref pairs — the nightly ingest asks exactly one question: which
    * new docs already exist, approximately, in the corpus.
    *
    * Shape at 100 TB: both sides run the [[minHashLsh]] machinery — narrow
    * (id, shingle-hash) explosion, ONE imperative signature aggregation
    * per side, banded bucket rows — and candidates come from an INNER join
    * of the two banded tables' per-bucket membership arrays: a bucket
    * produces work only when BOTH sides populate it, and either side
    * exceeding `maxBucket` drops the bucket with the same observable
    * metrics contract as [[bucketPairs]] (degenerate buckets carry no
    * selectivity; dropping beats a quadratic cross explosion). The exact
    * Jaccard verify joins each side's own shingle table — id spaces may
    * overlap between batch and reference, so the two sides never mix in
    * one table.
    *
    * Oracle-recall assumption (the [[minHashLsh]] contract, stated here
    * because the gate depends on it): the DuckDB oracle is the EXACT
    * all-pairs cross-corpus Jaccard, while LSH recall is probabilistic —
    * a true pair above threshold can in principle share no band, and a
    * `maxBucket` drop removes its bucket's pairs entirely. The gate holds
    * because at the gate SF the corpus's true pairs sit far above the
    * 16-band/4-row S-curve's 50% point (J≥0.8 ⇒ band-match probability
    * ≈ 1−(1−0.8⁴)¹⁶ ≈ 0.9997 per pair, and the planted/organic pairs are
    * J≥0.9) and no bucket approaches `maxBucket` (observable via
    * `metrics`). A data or seed change that surfaces borderline-J pairs or
    * oversized buckets can fail the gate WITHOUT a code bug — re-verify
    * the two assumptions before suspecting the operator.
    */
  /** Narrow (id, shingle-hash) explosion — the first stage of every minhash
    * operator and the `hashes` slice of the signature store. */
  private[graft] def minHashExploded(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"),
        explode(shingleHashesFromTokens(col("_toks"), shingleN)).as("h"))

  /** One signature aggregation → (id, band, bucket) rows — the banded form
    * shared by the in-memory operators and the store's `buckets` slice. */
  private[graft] def minHashBandRows(
      ex: DataFrame, numHashes: Int, bands: Int): DataFrame =
    ex.groupBy(col("id"))
      .agg(org.apache.spark.sql.graft.MinHashBandsAgg(col("h"), numHashes, bands)
        .as("_bands"))
      .select(col("id"), posexplode(col("_bands")).as(Seq("band", "bucket")))

  def minHashLshAgainst(
      batch: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = 100,
      metrics: Option[Observation] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    def exploded(df: DataFrame): DataFrame =
      minHashExploded(df, idCol, textCol, shingleN).localCheckpoint(false)
    def bandedGroups(ex: DataFrame, idsCol: String): DataFrame =
      minHashBandRows(ex, numHashes, bands)
        .groupBy(struct(col("band"), col("bucket")).as("bucketKey"))
        .agg(array_sort(collect_list(col("id"))).as(idsCol))
    val exB = exploded(batch)
    val exR = exploded(reference)
    val joined = bandedGroups(exB, "b_ids").join(bandedGroups(exR, "r_ids"), "bucketKey")
    val oversized = size(col("b_ids")) > maxBucket || size(col("r_ids")) > maxBucket
    val observed = metrics.map { o =>
      joined.observe(o,
        count(lit(1)).as("n_buckets"),
        sum(when(oversized, 1L).otherwise(0L)).as("n_dropped_buckets"),
        sum(when(oversized, (size(col("b_ids")) + size(col("r_ids"))).cast("long"))
          .otherwise(0L)).as("n_dropped_ids"))
    }.getOrElse(joined)
    val cand = observed.filter(!oversized)
      .select(explode(col("b_ids")).as("a_id"), col("r_ids"))
      .select(col("a_id"), explode(col("r_ids")).as("b_id"))
      .distinct()
    val sizesA = exB.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val sizesB = exR.groupBy(col("id")).agg(count(lit(1)).as("n"))
    cand
      .join(exB.select(col("id").as("a_id"), col("h")), "a_id")
      .join(exR.select(col("id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizesA.select(col("id").as("a_id"), col("n").as("n_a")), "a_id")
      .join(sizesB.select(col("id").as("b_id"), col("n").as("n_b")), "b_id")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id").as("batch_id"), col("b_id").as("ref_id"), col("jaccard"))
  }

  /** Persist the REFERENCE side of [[minHashLshAgainst]] as an on-disk
    * SIGNATURE STORE — the storage story that makes nightly incremental
    * near-dup dedup scale: the batch form re-tokenizes, re-hashes, and
    * re-signs the whole accepted corpus every night (a full 100 TB text
    * scan to answer questions about a 100 GB batch), while the store keeps
    * exactly the three narrow artifacts the probe needs and the corpus
    * text is NEVER read again:
    *
    *  - `buckets` — (band, bucket, id): the banded signature rows;
    *  - `hashes` — (id, h): each doc's distinct shingle-hash set (16
    *    bytes/row — the exact-verify evidence, an index not a copy);
    *  - `sizes`  — (id, n): shingle-set cardinalities.
    *
    * [[appendToSignatureStore]] adds a newly-ACCEPTED batch's slices
    * (append-only — the nightly admit step after
    * [[minHashLshAgainstStore]] says which docs are novel). Contract:
    * each accepted id is appended EXACTLY ONCE (duplicate slices would
    * double-count the verify intersection — the
    * [[graft.ops.Incremental]] compaction single-maintainer caveat);
    * store parameters (shingleN/numHashes/bands) are fixed at build time
    * and every probe/append must pass the same ones.
    */
  def buildSignatureStore(
      reference: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): Unit =
    writeStoreSlices(reference, idCol, textCol, path, shingleN, numHashes,
      bands, org.apache.spark.sql.SaveMode.Overwrite)

  /** Append newly-accepted docs to a [[buildSignatureStore]] store. */
  def appendToSignatureStore(
      accepted: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): Unit =
    writeStoreSlices(accepted, idCol, textCol, path, shingleN, numHashes,
      bands, org.apache.spark.sql.SaveMode.Append)

  private def writeStoreSlices(
      df: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int, numHashes: Int, bands: Int,
      mode: org.apache.spark.sql.SaveMode): Unit = {
    // one explode feeds all three slices — materialize it once (lazy: the
    // first write's job pays for it)
    val ex = minHashExploded(df, idCol, textCol, shingleN).localCheckpoint(false)
    ex.write.mode(mode).parquet(s"$path/hashes")
    ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
      .write.mode(mode).parquet(s"$path/sizes")
    minHashBandRows(ex, numHashes, bands)
      .write.mode(mode).parquet(s"$path/buckets")
    org.apache.spark.sql.graft.CheckpointUtil.unpersist(ex)
  }

  /** [[minHashLshAgainst]] probing a PERSISTED store instead of a live
    * reference frame: same candidates, same exact-Jaccard verify, same
    * `maxBucket` drop and metrics panel — spec- and oracle-pinned
    * equivalent to the batch form on the same corpus — but the reference
    * cost is index reads: banded-bucket rows for candidate generation and
    * a hash-set join for the verify, both narrow slices, the corpus text
    * untouched. The verify's store-side read is semi-pruned to candidate
    * ids before the hash join, so a small batch touches a small fraction
    * of the index regardless of corpus size.
    */
  def minHashLshAgainstStore(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = 100,
      metrics: Option[Observation] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val spark = batch.sparkSession
    val exB = minHashExploded(batch, idCol, textCol, shingleN).localCheckpoint(false)
    val bGroups = minHashBandRows(exB, numHashes, bands)
      .groupBy(struct(col("band"), col("bucket")).as("bucketKey"))
      .agg(array_sort(collect_list(col("id"))).as("b_ids"))
    val rGroups = FormatIO.readParquet(spark, s"$path/buckets")
      .groupBy(struct(col("band"), col("bucket")).as("bucketKey"))
      .agg(array_sort(collect_list(col("id"))).as("r_ids"))
    val joined = bGroups.join(rGroups, "bucketKey")
    val oversized = size(col("b_ids")) > maxBucket || size(col("r_ids")) > maxBucket
    val observed = metrics.map { o =>
      joined.observe(o,
        count(lit(1)).as("n_buckets"),
        sum(when(oversized, 1L).otherwise(0L)).as("n_dropped_buckets"),
        sum(when(oversized, (size(col("b_ids")) + size(col("r_ids"))).cast("long"))
          .otherwise(0L)).as("n_dropped_ids"))
    }.getOrElse(joined)
    val cand = observed.filter(!oversized)
      .select(explode(col("b_ids")).as("a_id"), col("r_ids"))
      .select(col("a_id"), explode(col("r_ids")).as("b_id"))
      .distinct()
      .localCheckpoint(false) // feeds the verify join AND the id pruning
    // verify evidence: only candidate ref ids' hash sets leave the index
    val candRefIds = cand.select(col("b_id").as("id")).distinct()
    val refHashes = FormatIO.readParquet(spark, s"$path/hashes")
      .join(candRefIds, Seq("id"), "left_semi")
    val refSizes = FormatIO.readParquet(spark, s"$path/sizes")
      .join(candRefIds, Seq("id"), "left_semi")
    val sizesA = exB.groupBy(col("id")).agg(count(lit(1)).as("n"))
    cand
      .join(exB.select(col("id").as("a_id"), col("h")), "a_id")
      .join(refHashes.select(col("id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizesA.select(col("id").as("a_id"), col("n").as("n_a")), "a_id")
      .join(refSizes.select(col("id").as("b_id"), col("n").as("n_b")), "b_id")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id").as("batch_id"), col("b_id").as("ref_id"), col("jaccard"))
  }

  /** Build the broadcast LSH index a STREAMING near-dup gate scores against
    * ([[graft.streaming.EventStream.nearDupGate]]) — the deployable form of
    * [[minHashLshAgainst]]'s reference side, the way
    * [[graft.ops.TextAnalysis.trainLmTable]] is the deployable form of
    * [[graft.ops.TextAnalysis.lmScore]]'s train side: the SAME machinery
    * (shingle-hash explode, one [[org.apache.spark.sql.graft.MinHashBandsAgg]]
    * aggregation, banded bucket rows) builds the tables, then they collapse
    * into broadcast maps so each live doc is matched in-row with zero joins
    * and zero state.
    *
    * `maxBucket` applies at BUILD time: a reference bucket past it is
    * dropped from the index entirely (degenerate buckets carry no
    * selectivity — the [[bucketPairs]] discipline). The stream side holds
    * one doc per row, so the batch operator's batch-side occupancy drop has
    * no streaming counterpart.
    *
    * Driver/executor bound (the honest contract): the index carries the
    * reference corpus's distinct shingle hashes — the DECONTAMINATION
    * regime (benchmark/known-bad sets, what a live gate actually guards),
    * NOT a 100 TB accepted corpus; corpus-scale incremental near-dup stays
    * the batch [[minHashLshAgainst]] nightly.
    */
  def buildNearDupIndex(
      reference: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 100): org.apache.spark.broadcast.Broadcast[org.apache.spark.sql.graft.NearDupIndex] = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val ex = reference
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(shingleHashesFromTokens(col("_toks"), shingleN)).as("h"))
      .localCheckpoint(false)
    val bucketRows = ex.groupBy(col("id"))
      .agg(org.apache.spark.sql.graft.MinHashBandsAgg(col("h"), numHashes, bands)
        .as("_bands"))
      .select(col("id"), posexplode(col("_bands")).as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) <= maxBucket)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray))
    val refSetRows = ex.groupBy(col("id"))
      .agg(array_sort(collect_list(col("h"))).as("hs"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val bc = reference.sparkSession.sparkContext.broadcast(
      new org.apache.spark.sql.graft.NearDupIndex(
        bucketRows, refSetRows, shingleN, numHashes, bands))
    org.apache.spark.sql.graft.CheckpointUtil.unpersist(ex)
    bc
  }

  /** Exact Jaccard verification of candidate pairs against the exploded
    * per-doc shingle-hash table (`ex`: id, h — distinct per doc). Intersection
    * size is a join-and-count on (id, h); only candidate rows join, so the
    * cost is O(pairs x shingles), not O(corpus^2).
    */
  def jaccardVerify(pairs: DataFrame, ex: DataFrame, threshold: Double): DataFrame = {
    val sizes = ex.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(ex.select(col("id").as("a_id"), col("h")), "a_id")
      .join(ex.select(col("id").as("b_id"), col("h")), Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("a_id"), col("n").as("n_a")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("n").as("n_b")), "b_id")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Per-doc 64-bit SimHash (id, simhash). Exploded shape: tokens become
    * narrow (id, tokenHash) rows and the 64 per-bit majority counters
    * accumulate in one imperative aggregation
    * ([[org.apache.spark.sql.graft.SimHashAgg]], map-side partial, one
    * shuffle on id) — the per-row array-expression formulation runs
    * interpreted and much slower. Docs with no tokens hash to 0
    * (explode_outer keeps them).
    *
    * The per-token 64-bit hash is the first 8 bytes of md5(token) big-endian
    * (= the first 16 hex chars decoded) — md5 exists in every engine, so the
    * signature (and therefore the near-dup result) is reproducible outside
    * Spark, which is what lets the driver's DuckDB oracle recompute it
    * exactly (same reason `fingerprint` uses md5). The hash is one native
    * codegen'd digest per token ([[graft.functions.md5Prefix64]]); the
    * previous hex-chunk `conv(substring(md5(...)))` form re-ran md5 per
    * 16-bit chunk and string-parsed each, which made this the slowest query
    * in the whole bench (11.3 s vs 2.6 s at sf0.1).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = df
      .select(col(idCol).as("id"), explode_outer(tokens(col(textCol))).as("t"))
      .select(col("id"), md5Prefix64(col("t")).as("_h"))
    // one-pass 64-bit majority aggregation (see SimHashAgg) — bit-exact with
    // the 64-separate-sums formulation the DuckDB oracle replicates, at one
    // buffer update per token instead of 64 aggregate expressions per row
    ex.groupBy(col("id"))
      .agg(org.apache.spark.sql.graft.SimHashAgg(col("_h")).as("simhash"))
  }

  /** SimHash near-dup pairs: docs whose 64-bit SimHashes are within
    * `maxHamming` bits. Candidates come from 16-bit chunk buckets — two
    * hashes within hamming distance 3 must agree on at least one of the four
    * 16-bit chunks (pigeonhole), so candidate generation misses no pair
    * for maxHamming <= 3 EXCEPT through the `maxBucket` cap: a chunk value
    * shared by more than `maxBucket` docs (e.g. every empty doc hashes to 0)
    * is dropped as carrying no selectivity, and a true pair whose every
    * shared chunk is that hot is lost with it. Pass `metrics` to observe the
    * dropped-bucket counts (see [[bucketPairs]]).
    */
  def simHashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 100,
      metrics: Option[Observation] = None): DataFrame = {
    hammingNearDupPairs(
      simHash(df, idCol, textCol).select(col("id"), col("simhash").as("sig")),
      maxHamming, maxBucket, metrics)
  }

  /** Hamming near-dup pairs over ANY precomputed 64-bit signature frame
    * (columns: `id`, `sig`) — the banded candidate-join engine shared by
    * [[simHashNearDup]] (text SimHash) and [[imageNearDup]] (perceptual
    * dHash). Candidates come from 16-bit chunk buckets; the 4-chunk
    * pigeonhole is complete for `maxHamming <= 3` modulo the `maxBucket`
    * hot-bucket cap (see [[simHashNearDup]] for the cap caveat and
    * [[bucketPairs]] for the observable drop metrics).
    *
    * Shape per 100 TB: the signature frame is 16 bytes/row however large
    * the underlying objects were; one localCheckpoint materializes it once
    * for its three uses (chunk explode + both verify sides), the bucket
    * grouping shuffles only (id, chunkKey) rows, and the verify join ships
    * one long per side.
    */
  private[graft] def hammingNearDupPairs(
      sigs: DataFrame, // columns: id, sig (a 64-bit signature)
      maxHamming: Int,
      maxBucket: Int,
      metrics: Option[Observation] = None): DataFrame = {
    // the 4×16-bit chunk pigeonhole is COMPLETE only for distance <= 3
    // (4 chunks, so any 3 flipped bits leave one chunk untouched); a larger
    // maxHamming would silently miss pairs rather than find more
    require(maxHamming >= 0 && maxHamming <= 3,
      "maxHamming must be in [0, 3] (16-bit-chunk candidate generation)")
    // lazily checkpointed: referenced by the chunk buckets and both verify
    // sides — one upstream pass instead of three
    val hashes = sigs.select(col("id"), col("sig")).localCheckpoint(false)
    val chunked = hashes.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(3)), j => struct(
        j.as("chunk"),
        call_function("shiftright", col("sig"), j * 16)
          .bitwiseAND(lit(0xffffL)).as("bits")))).as("bucketKey"))
    val cand = bucketPairs(chunked.select(col("id"), col("bucketKey")), maxBucket, metrics)
    val a = hashes.select(col("id").as("a_id"), col("sig").as("sim_a"))
    val b = hashes.select(col("id").as("b_id"), col("sig").as("sim_b"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("hamming", hamming64(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Perceptual image near-dup pairs: items whose 64-bit dHashes
    * ([[Multimodal.dHash]] — decode → 9×8 luma grid → neighbor-brightness
    * bits) are within `maxHamming` bits. The image twin of
    * [[simHashNearDup]]: re-encoded, mildly resized, or slightly retouched
    * copies of an image land within a few bits of each other, while the
    * candidate join only ever touches 16-byte signatures — the decoded
    * pixels never shuffle. Corrupt payloads drop at the decode pass and
    * therefore appear in no pair.
    */
  def imageNearDup(
      spark: org.apache.spark.sql.SparkSession,
      media: DataFrame, // columns: item_id, payload
      maxHamming: Int = 3,
      maxBucket: Int = 100,
      metrics: Option[Observation] = None): DataFrame =
    hammingNearDupPairs(
      graft.ops.Multimodal.dHash(spark, media)
        .select(col("item_id").as("id"), col("dhash").as("sig")),
      maxHamming, maxBucket, metrics)

  /** Audio near-dup pairs by energy-envelope fingerprint
    * ([[Multimodal.audioFingerprint]]): re-encoded and volume-scaled
    * copies of the same recording land at hamming 0–few (adjacent-window
    * loudness comparisons cancel the gain), decoded samples never
    * shuffle — the audio member of the [[imageNearDup]] /
    * [[videoNearDup]] trio, on the same 16-byte-signature engine.
    */
  def audioNearDup(
      spark: org.apache.spark.sql.SparkSession,
      media: DataFrame, // columns: item_id, payload
      maxHamming: Int = 3,
      maxBucket: Int = 100,
      metrics: Option[Observation] = None): DataFrame =
    hammingNearDupPairs(
      graft.ops.Multimodal.audioFingerprint(spark, media)
        .select(col("item_id").as("id"), col("afp").as("sig")),
      maxHamming, maxBucket, metrics)

  /** Video near-dup pairs by representative-frame dHash
    * ([[Multimodal.videoDHash]]): re-encoded, container-rewritten, or
    * tail-trimmed copies of the same footage keep their leading frame and
    * land at hamming 0–few, while the candidate join never touches decoded
    * frames — the same 16-byte-signature economics as [[imageNearDup]].
    * Corrupt containers drop at decode and appear in no pair.
    */
  def videoNearDup(
      spark: org.apache.spark.sql.SparkSession,
      media: DataFrame, // columns: item_id, payload
      maxHamming: Int = 3,
      maxBucket: Int = 100,
      frameIndex: Int = 0,
      metrics: Option[Observation] = None): DataFrame =
    hammingNearDupPairs(
      graft.ops.Multimodal.videoDHash(spark, media, frameIndex)
        .select(col("item_id").as("id"), col("dhash").as("sig")),
      maxHamming, maxBucket, metrics)

  /** Canonical cluster assignment over near-dup pairs: connected components
    * by iterative min-label propagation. Every id gets the smallest id of its
    * duplicate cluster as `cluster`; keep rows where `id == cluster` to dedup.
    *
    * Each iteration is one shuffle join + aggregate; iterations needed =
    * graph diameter (near-dup clusters are shallow — a handful), bounded by
    * `maxIterations` with early exit when labels stop changing. The per-
    * iteration driver-side check reads ONE aggregated long, not data.
    */
  def connectedComponents(
      ids: DataFrame, // column: id
      pairs: DataFrame, // columns: a_id, b_id
      maxIterations: Int = 20): DataFrame =
    connectedComponentsReleasable(ids, pairs, maxIterations)._1

  /** [[connectedComponents]] plus a storage-release hook. The returned plan
    * permanently reads TWO localCheckpoints (the materialized edge list and
    * the final labels), so a long-lived job that runs CC repeatedly would
    * accumulate 2 persisted RDDs per invocation with no sanctioned way to
    * reclaim them. Call `release()` ONCE, only after the result has fully
    * materialized (collected / written / checkpointed onward) — checkpoint
    * blocks cannot be recomputed, so any later action over the returned
    * frame would fail.
    */
  def connectedComponentsReleasable(
      ids: DataFrame, // column: id
      pairs: DataFrame, // columns: a_id, b_id
      maxIterations: Int = 20): (DataFrame, () => Unit) = {
    // checkpoint the pair list BEFORE mirroring it: pairs usually derive from
    // a whole detection pipeline (LSH + verify), and a union of two branches
    // over an unmaterialized plan executes that pipeline twice
    val p = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .localCheckpoint()
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
    // iterate ONLY over nodes that appear in an edge — at corpus scale the
    // overwhelming majority of docs are in no near-dup pair and their label
    // never moves; they rejoin as singletons at the end
    val labels0 = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
    // `p` and the final labels checkpoint stay persisted — the returned
    // (lazy) plan reads them
    val res = Fixpoint.iterate(labels0, maxIterations) { (prev, _) =>
      val labels = prev.drop("_old")
      // candidate label for dst = min label among neighbors' current labels
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster")).as("_nb"))
      // the changed-label count rides the checkpoint's own job; _old is
      // carried so the comparison is row-local
      val (next, changed) = Fixpoint.observedCheckpoint(
        labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("_nb"), col("cluster"))).as("cluster"),
            col("cluster").as("_old")),
        sum(when(col("cluster") =!= col("_old"), 1L).otherwise(0L)))
      (next, changed == 0L)
    }
    // singletons (no edges) are their own cluster
    val result = ids.join(res.last.drop("_old"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    (result, () => {
      org.apache.spark.sql.graft.CheckpointUtil.unpersist(p)
      res.release()
    })
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") —
    * the O(log n)-round alternative to [[connectedComponents]]'s min-label
    * propagation, whose round count grows with component DIAMETER: on the
    * long chain components a crawl-graph dedup end-game produces (page A ~
    * B ~ C ~ … through pairwise near-dup edges), min-label needs diameter
    * rounds while star contraction collapses the chain geometrically, at
    * the same one-join-plus-aggregate cost per round.
    *
    * Per round: large-star connects every neighbor v > u to
    * `m = min(Γ(u) ∪ {u})` (each undirected edge emitted from its smaller
    * endpoint — no edge lost), then small-star re-points each node's
    * smaller neighbors (and itself) at its minimum. The fixed point is a
    * disjoint union of min-stars; labels read off as `src → dst` with
    * centers and edge-less singletons mapping to themselves. Same output
    * contract as [[connectedComponents]]: every id gets its component's
    * SMALLEST id as `cluster`.
    *
    * Shape at 100 TB: each round is two narrow (src, dst) aggregations +
    * equality joins, map-side combinable, edge-set-sized — never touches
    * payloads; each round's edges checkpoint through [[Fixpoint.iterate]].
    * Convergence check: the edge count, observed by the round's checkpoint
    * job ([[Fixpoint.observedCheckpoint]]), + one `except` when counts
    * match — exact set equality, edge-set-sized.
    */
  def connectedComponentsLS(
      ids: DataFrame, // column: id
      pairs: DataFrame, // columns: a_id, b_id
      maxIterations: Int = 20): DataFrame =
    connectedComponentsLSRounds(ids, pairs, maxIterations)._1

  /** [[connectedComponentsLS]] with the round count and the storage-release
    * hook (the [[connectedComponentsReleasable]] contract). */
  private[graft] def connectedComponentsLSRounds(
      ids: DataFrame,
      pairs: DataFrame,
      maxIterations: Int = 20): (DataFrame, Int, () => Unit) = {
    val (edges0, n0) = Fixpoint.observedCheckpoint(pairs
      .filter(col("a_id") =!= col("b_id"))
      .select(greatest(col("a_id"), col("b_id")).as("src"),
        least(col("a_id"), col("b_id")).as("dst"))
      .distinct(), count(lit(1)))
    var prevCount = n0
    val maxRounds = if (prevCount == 0L) 0 else maxIterations
    val res = Fixpoint.iterate(edges0, maxRounds, ownsInit = true) { (edges, _) =>
      // LARGE-STAR over symmetric neighborhoods: m_u = min(Γ(u) ∪ {u});
      // every strictly-larger neighbor re-points at m_u
      val nb = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val mTab = nb.groupBy(col("src"))
        .agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("src"), col("_mn")).as("_m"))
      val ls = nb.join(mTab, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst")) // v > u >= m
        .filter(col("src") =!= col("dst"))
        .distinct()
      // SMALL-STAR on the now larger→smaller directed edges: each node's
      // smaller neighbors (and the node itself) re-point at its minimum
      val mTab2 = ls.groupBy(col("src")).agg(min(col("dst")).as("_m"))
      val (ss, n) = Fixpoint.observedCheckpoint(ls.join(mTab2, "src")
        .select(col("dst").as("x"), col("_m"))
        .union(mTab2.select(col("src").as("x"), col("_m")))
        .filter(col("x") =!= col("_m"))
        .select(col("x").as("src"), col("_m").as("dst"))
        .distinct(), count(lit(1)))
      val converged = n == prevCount && ss.except(edges).count() == 0L
      prevCount = n
      (ss, converged)
    }
    // min per src guards the not-converged-at-cap case (multiple out-edges)
    val lbl = res.last.groupBy(col("src").as("id")).agg(min(col("dst")).as("cluster"))
    val result = ids.join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    (result, res.rounds, res.release)
  }

  /** Deterministic random hyperplanes for sign-bucket LSH (seeded, so results
    * are reproducible across runs and engines).
    */
  private[graft] def hyperplanes(planes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit bucket of a vector against the given hyperplanes. */
  private[graft] def hyperplaneBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) >= 0d, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Embedding-cosine near-dup: random-hyperplane LSH buckets (with 1-bit
    * multi-probe so a vector sitting on a plane boundary still meets its
    * twin), exact cosine verification within buckets. Returns
    * (a_id, b_id, cosine) with cosine >= `threshold`.
    */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numPlanes: Int = 12,
      threshold: Double = 0.98,
      maxBucket: Int = 200,
      seed: Long = 42L,
      metrics: Option[Observation] = None): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("bucket", hyperplaneBucket(col("vec"), planes))
    // multi-probe: each doc lands in its own bucket plus every 1-bit flip
    val probes = base.select(
      col("id"),
      explode(transform(sequence(lit(-1), lit(numPlanes - 1)),
        i => when(i === -1, col("bucket"))
          .otherwise(col("bucket").bitwiseXOR(call_function("shiftleft", lit(1), i))))
      ).as("bucketKey"))
    val cand = bucketPairs(probes.select(col("id"), col("bucketKey")), maxBucket, metrics)
    val a = base.select(col("id").as("a_id"), col("vec").as("vec_a"))
    val b = base.select(col("id").as("b_id"), col("vec").as("vec_b"))
    cand.join(a, "a_id").join(b, "b_id")
      .withColumn("cosine", cosineSimilarity(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540) — the modern-dedup-lattice member that catches
    * SAME-MEANING documents no token-level operator can: cluster the
    * embedding corpus with the deterministic Lloyd trainer
    * ([[Similarity.kmeansAssign]] — lowest-id seeds, exact fixed-point
    * means, so the whole pass is engine-reproducible), generate candidate
    * pairs ONLY within a cluster (the paper's core trick: k-means makes the
    * quadratic search local), keep pairs at exact cosine >= `threshold`,
    * close them transitively ([[connectedComponents]] — pairs never cross
    * clusters, so components stay inside their cluster by construction) and
    * keep the BEST-QUALITY doc per semantic group: max `qualityCol`, ties
    * to min id, as ONE `min(struct(-q, id))` aggregate (the
    * pipeline_canonicalize argmax discipline — never a nondeterministic
    * max_by; blindly keeping min-id would keep whichever copy crawled
    * first). `qualityCol` must be integer-valued (the fixed-point family
    * convention — callers quantize floats first, exact compares only).
    *
    * Output: one row per SURVIVING doc — (idCol, group_id, n_members,
    * qualityCol), where `group_id` is the smallest id in the doc's semantic
    * group and `n_members` its size (1 for docs with no near-twin).
    *
    * Shape at 100 TB: assignment is the one-kernel broadcast-matrix scan
    * (plan O(1) in numClusters); the candidate join is an EQUALITY hash
    * join on the cluster id — never a BNLJ — and its quadratic within-
    * cluster cost is bounded two ways: numClusters sizes the expected
    * cluster (the paper runs 50k clusters at web scale; cost falls as
    * 1/numClusters), and clusters past `maxCluster` contribute NO pairs
    * (their docs all survive — the maxBucket drop discipline: a megacluster
    * means the embedding space there carries no discriminative structure,
    * and its pairs would be exactly the quadratic blowup this operator
    * exists to avoid). The drop is observable via `metrics`
    * (n_ids / n_dropped_ids / max_cluster_size — the [[bucketPairs]]
    * observability contract adapted to the row-level panel observe allows:
    * no DISTINCT, and nothing under the broadcast side, which would never
    * report). Embeddings cross the candidate-join wire once per side;
    * quality and ids ride the narrow CC + argmax path.
    *
    * Threshold discipline: cosine compares are IEEE doubles computed
    * left-to-right identically in both engines; gate thresholds must sit in
    * the wide margin between true-twin cosines (~1) and organic pairs (the
    * [[embeddingNearDup]] contract — measured margin-to-drift ratio ~1e11).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      qualityCol: String,
      numClusters: Int,
      threshold: Double = 0.98,
      lloydIters: Int = 2,
      trainPercent: Int = 100,
      maxCluster: Int = 10000,
      metrics: Option[Observation] = None): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      col(qualityCol).cast("long").as("_q"))
    val assigned = Similarity.kmeansAssign(base, numClusters, lloydIters,
      trainPercent, keep = Seq("vec", "_q"))
    val sizes = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("_cn"))
    val sized = assigned.join(broadcast(sizes), "cluster")
    val inPlay = sized.filter(col("_cn") <= maxCluster)
    val a = inPlay.select(col("cluster"), col("id").as("a_id"), col("vec").as("_va"))
    val b = inPlay.select(col("cluster"), col("id").as("b_id"), col("vec").as("_vb"))
    val pairs = a.join(b, "cluster")
      .filter(col("a_id") < col("b_id"))
      .filter(cosineSimilarity(col("_va"), col("_vb")) >= threshold)
      .select(col("a_id"), col("b_id"))
    val groups = connectedComponents(base.select(col("id")), pairs)
      .withColumnRenamed("cluster", "group_id")
    val labeled = base.select(col("id"), col("_q")).join(groups, "id")
    val winners = labeled.groupBy(col("group_id"))
      .agg(min(struct((-col("_q")).as("nq"), col("id").as("wid"))).as("_w"),
        count(lit(1)).as("n_members"))
      .select(col("_w.wid").as("id"), col("group_id"), col("n_members"))
    // the observation rides ONLY the returned plan's quality side — never
    // the pair path: the pair join can be propagated EMPTY by AQE at
    // runtime (every cluster oversized, or an impossible threshold), which
    // prunes a CollectMetrics out of the executed plan and completes the
    // observation with an empty row during connectedComponents' internal
    // checkpoint actions. On the final plan the frame always carries rows
    // (one per survivor), so the metrics fire — exactly once, on the
    // caller's first real action (the bucketPairs contract). Cluster-level
    // counts would need DISTINCT (observe forbids it); the row-level panel
    // is exact and carries what matters: how many ids lost pairing, and
    // how big the biggest cluster is (crawl-scale skew shows up HERE).
    val qualitySide = metrics.map { o =>
      sized.observe(o,
        count(lit(1)).as("n_ids"),
        sum(when(col("_cn") > maxCluster, 1L).otherwise(0L))
          .as("n_dropped_ids"),
        max(col("_cn")).as("max_cluster_size"))
    }.getOrElse(sized)
    winners.join(qualitySide.select(col("id"), col("_q")), "id")
      .select(col("id").as(idCol), col("group_id"), col("n_members"),
        col("_q").as(qualityCol))
  }

  /** Incremental (cross-snapshot) SEMANTIC dedup — the last cell of the
    * incremental lattice ([[dedupAgainst]] exact, [[dedupWindowsAgainst]]
    * substring, [[minHashLshAgainst]] token-level; this one catches the
    * nightly batch's SAME-MEANING twins): does each batch embedding already
    * exist, semantically, in the accepted corpus? Centroids are trained on
    * the REFERENCE ONLY and FROZEN (the [[Similarity.appendToIvfIndex]]
    * contract — the accepted corpus defines the semantic geometry; a batch
    * that could move the centroids would make yesterday's decisions
    * unrepeatable), both sides assign against the same broadcast matrix,
    * and candidates are CROSS-SIDE pairs within a cell only — batch×batch
    * pairs are [[semanticDedup]]'s job on the batch itself, and
    * ref×ref pairs were settled when the reference was accepted. Pairs at
    * exact cosine ≥ `threshold` emit as `(batch_id, ref_id, cosine)` —
    * callers anti-join `batch_id` to admit only novel docs (the
    * [[minHashLshAgainst]] surface).
    *
    * Shape at 100 TB: training is `lloydIters` narrow shuffles over the
    * reference (sampled via `trainPercent` — at scale, train on the
    * sample, assign everything); both assignment passes are shuffle-free
    * broadcast-matrix kernel scans; the candidate join is an EQUALITY
    * hash join on the cell id. Quadratic within-cell cost is bounded the
    * [[semanticDedup]] two ways: numClusters sizes the expected cell, and
    * a cell whose batch OR reference occupancy exceeds `maxCell`
    * contributes no pairs (its batch docs all read as novel — the
    * maxBucket drop discipline, observable via `metrics`:
    * n_ref_ids / n_dropped_ref_ids / max_cell_pairs).
    */
  def semanticDedupAgainst(
      batch: DataFrame,
      reference: DataFrame,
      idCol: String,
      vecCol: String,
      numClusters: Int,
      threshold: Double = 0.98,
      lloydIters: Int = 2,
      trainPercent: Int = 100,
      maxCell: Int = 10000,
      metrics: Option[Observation] = None): DataFrame = {
    val b = batch.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val r = reference.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cents = Similarity.trainCentroids(r, numClusters, lloydIters, trainPercent)
    if (cents.isEmpty)
      // empty reference: nothing to collide with — empty result, std schema
      return b.select(col("id").as("batch_id"), col("id").as("ref_id"))
        .withColumn("cosine", lit(0.0)).limit(0)
    val bc = Similarity.broadcastCentroids(batch.sparkSession, cents)
    val ab = Similarity.assignCells(b, bc)
      .select(col("cell"), col("id").as("batch_id"), col("vec").as("_vb"))
    val ar = Similarity.assignCells(r, bc)
      .select(col("cell"), col("id").as("ref_id"), col("vec").as("_vr"))
    val stats = ab.groupBy(col("cell")).agg(count(lit(1)).as("_bn"))
      .join(ar.groupBy(col("cell")).agg(count(lit(1)).as("_rn")), "cell")
    // panel rides the REFERENCE side (structurally the big side — the
    // accepted corpus vs a nightly batch), so the CollectMetrics node sits
    // in the probe-task path: AQE broadcasts the batch side, and a metrics
    // node under a BroadcastExchange never reports (the semanticDedup
    // qualitySide lesson — observe the side that will NOT be broadcast).
    // Row-level panel (observe forbids DISTINCT): ref rows in shared
    // cells, ref rows losing pairing to the drop, worst cell's pair count.
    val sizedR = ar.join(broadcast(stats), "cell")
    val observedR = metrics.map { o =>
      sizedR.observe(o,
        count(lit(1)).as("n_ref_ids"),
        sum(when(col("_bn") > maxCell || col("_rn") > maxCell, 1L)
          .otherwise(0L)).as("n_dropped_ref_ids"),
        max(col("_bn") * col("_rn")).as("max_cell_pairs"))
    }.getOrElse(sizedR)
    // the inner join on cell carries the drop to the batch side for free:
    // dropped cells simply have no surviving reference rows to meet
    val inPlayR = observedR.filter(col("_bn") <= maxCell && col("_rn") <= maxCell)
    ab.join(inPlayR, "cell")
      .withColumn("cosine", cosineSimilarity(col("_vb"), col("_vr")))
      .filter(col("cosine") >= threshold)
      .select(col("batch_id"), col("ref_id"), col("cosine"))
  }

  /** Incremental (cross-snapshot) exact dedup: drop rows of `batch` whose
    * normalized content already exists in `reference` — the continuously-
    * ingested-corpus primitive ("is this crawl page already in last month's
    * corpus?"). Same normalization + sha-256 content key as [[exact]], so a
    * batch deduped against snapshot N and unioned into it stays [[exact]]-
    * clean.
    *
    * Shape at 100 TB: LEFT ANTI join on the 32-byte content hash — the batch
    * never carries its text through a shuffle, and the reference side
    * reduces to distinct hashes (one narrow column) before joining; Spark
    * broadcasts it when small, else both sides hash-partition on the digest
    * exactly once.
    */
  def dedupAgainst(
      batch: DataFrame,
      reference: DataFrame,
      contentCols: Seq[String]): DataFrame = {
    def key(df: DataFrame): Column = contentKey(contentCols)
    val refKeys = reference.select(key(reference).as("_k")).distinct()
    batch.withColumn("_k", key(batch))
      .join(refKeys, Seq("_k"), "left_anti")
      .drop("_k")
  }

  /** Cross-corpus segment-level dedup — the C4-style boilerplate-removal
    * step: split each document into segments on `delim`, keep only the FIRST
    * occurrence of every distinct segment corpus-wide (first = smallest
    * (id, position), a total order, so the result is a pure function of the
    * corpus), and reassemble each document from its surviving segments in
    * original order. Repeated nav bars, cookie banners, and license blocks
    * survive exactly once — in the earliest document that carries them.
    * Empty segments are dropped at the split. Output: (id, `text_dedup`,
    * `n_segments`, `n_kept`); a fully-deduplicated document keeps an empty
    * string, never disappears.
    *
    * Shape at 100 TB: segments explode once; the first-occurrence arg-min
    * groups on the segment's 32-byte digest (map-side partial `min(struct)`,
    * so a segment repeated a billion times still aggregates per-partition —
    * boilerplate IS the skew case and this is the skew-proof plan), and the
    * winners table (one narrow row per DISTINCT segment) joins back on the
    * digest — no text ever shuffles as a KEY. Segment text crosses the wire
    * exactly twice (the digest-join exchange and the per-doc reassembly),
    * which is the floor for any reassembling dedup.
    */
  def dedupSegments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n"): DataFrame = {
    // lazily checkpointed: the exploded table feeds the first-occurrence
    // arg-min AND the winners probe — without the checkpoint the
    // split+explode+sha2 pass runs twice (same discipline as minHashLsh's
    // shingle table; local blocks, spills to executor disk at scale)
    val segs = df
      .select(col(idCol).as("id"),
        posexplode(filter(
          split(col(textCol), java.util.regex.Pattern.quote(delim)),
          s => length(s) > 0)).as(Seq("pos", "seg")))
      .withColumn("_d", unhex(sha2(col("seg").cast("binary"), 256)))
      .localCheckpoint(false)
    val firsts = segs
      .groupBy(col("_d"))
      .agg(min(struct(col("id"), col("pos"))).as("_first"))
    val kept = segs.join(firsts, Seq("_d"))
      .filter(col("id") === col("_first.id") && col("pos") === col("_first.pos"))
    val rebuilt = kept
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          e => e.getField("seg")), delim).as("text_dedup"),
        count(lit(1)).as("n_kept"))
    // coalesce: a NULL text has no segments, not a NULL count (size(null)
    // is NULL under ANSI) — n_segments must stay arithmetic-safe like n_kept
    val nSegs = coalesce(size(filter(
      split(col(textCol), java.util.regex.Pattern.quote(delim)),
      s => length(s) > 0)).cast("long"), lit(0L))
    df.select(col(idCol).as("id"), nSegs.as("n_segments"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Within-document repetition removal — the third segment-level cleaner,
    * completing the family ([[dedupSegments]] = corpus-wide keep-first,
    * [[stripBoilerplate]] = cross-doc frequency strip, this = INTRA-doc
    * keep-first): repeated segments inside one document collapse to their
    * first occurrence, other documents unaffected (the C4 within-page
    * dedup rule). Output shape matches the family:
    * (id, `text_dedup`, `n_segments`, `n_kept`).
    *
    * Shape at 100 TB: a document's segments live in its own row, so this is
    * a ZERO-shuffle scan-speed projection — `array_distinct` keeps first
    * occurrences in first-appearance order (codegen'd collection op, no
    * interpreted lambda), and no digest ever crosses the wire. The corpus-
    * wide variants genuinely need their shuffles; this one would be WRONG
    * to shuffle.
    */
  def dedupWithinDoc(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n"): DataFrame = {
    val segs = filter(
      split(col(textCol), java.util.regex.Pattern.quote(delim)),
      s => length(s) > 0)
    // segments materialize once; array_distinct references would otherwise
    // re-split per use (the staged-projection discipline)
    df.select(col(idCol).as("id"), segs.as("_segs"))
      .select(col("id"), col("_segs"), array_distinct(col("_segs")).as("_kept"))
      .select(
        col("id"),
        coalesce(array_join(col("_kept"), delim), lit("")).as("text_dedup"),
        coalesce(size(col("_segs")).cast("long"), lit(0L)).as("n_segments"),
        coalesce(size(col("_kept")).cast("long"), lit(0L)).as("n_kept"))
  }

  /** Document-frequency boilerplate strip — the OTHER segment-level cleaner
    * (RefinedWeb/MassiveText style, complementing [[dedupSegments]]' C4-style
    * keep-first): a segment that appears in MORE THAN `maxDocFreq` distinct
    * documents is boilerplate by evidence (nav bars, cookie banners, footers)
    * and is removed from EVERY document, including the first carrier; rarer
    * segments are kept everywhere, within-doc repeats included. Output shape
    * matches [[dedupSegments]]: (id, `text_kept`, `n_segments`, `n_kept`).
    *
    * Shape at 100 TB: document frequency per segment digest is computed as
    * two NARROW aggregations (distinct (digest, doc) then count per digest —
    * never a count_distinct whose per-key state is the carrier set), and
    * segment text crosses the wire only for reassembly. The anti join on the
    * boilerplate digest set is broadcast-OR-shuffle depending on the set's
    * actual size: at a high `maxDocFreq` the above-threshold set is small
    * and broadcasts, but at `maxDocFreq = 1` on a real crawl EVERY segment
    * appearing in ≥2 docs qualifies — a corpus-scaled set, for which Spark
    * correctly falls back to a shuffle anti join on the 32-byte digest
    * (narrow keys, no text; fine, just not free). Don't assume broadcast in
    * a plan budget.
    */
  def stripBoilerplate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
      maxDocFreq: Int = 1): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val segs = df
      .select(col(idCol).as("id"),
        posexplode(filter(
          split(col(textCol), java.util.regex.Pattern.quote(delim)),
          s => length(s) > 0)).as(Seq("pos", "seg")))
      .withColumn("_d", unhex(sha2(col("seg").cast("binary"), 256)))
      .localCheckpoint(false)
    val boiler = segs.select(col("_d"), col("id")).distinct()
      .groupBy(col("_d")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq)
      .select(col("_d"))
    val kept = segs.join(boiler, Seq("_d"), "left_anti")
    val rebuilt = kept
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          e => e.getField("seg")), delim).as("text_kept"),
        count(lit(1)).as("n_kept"))
    val nSegs = coalesce(size(filter(
      split(col(textCol), java.util.regex.Pattern.quote(delim)),
      s => length(s) > 0)).cast("long"), lit(0L))
    df.select(col(idCol).as("id"), nSegs.as("n_segments"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact substring-window dedup — the Lee et al. ("Deduplicating Training
    * Data Makes Language Models Better") exact-substring cleaner, working
    * BELOW segment granularity where the segment family (dedupSegments /
    * stripBoilerplate / dedupWithinDoc) stops: duplicated token runs at
    * ARBITRARY offsets — straddling line breaks, sentence boundaries, any
    * delimiter — are caught because windows slide over the raw token stream
    * and never see delimiters at all.
    *
    * Semantics (exact, corpus-deterministic):
    *  - tokens = lowercased whitespace tokens (the shared [[graft.functions.tokens]]);
    *  - window starts at every multiple of `stride` with `windowTokens`
    *    tokens remaining, PLUS a tail window at `n - windowTokens` so every
    *    token is covered by >=1 window; a doc shorter than `windowTokens`
    *    contributes one whole-doc window (it still participates in dedup);
    *  - for each DISTINCT window token-sequence the corpus-wide first
    *    occurrence survives (first = min (id, start), a total order, so the
    *    result is a pure function of the corpus — partitioning-independent);
    *  - a token survives iff covered by >=1 surviving window; each doc is
    *    reassembled from its surviving tokens in original order (joined with
    *    single spaces — window dedup is a token-stream operator, so output
    *    whitespace is normalized by construction).
    * Output: (id, `text_dedup`, `n_tokens`, `n_kept`); a fully-duplicated
    * doc keeps an empty string, never disappears.
    *
    * Shape at 100 TB: windows explode once into NARROW rows — (id, start,
    * len, 32-byte digest); window TEXT is digested in-row and never shuffles
    * at all, let alone as a key (the segment-family discipline, tightened).
    * The first-occurrence arg-min groups on the digest with map-side partial
    * `min(struct)` — a window repeated a billion times (boilerplate IS the
    * skew case) still aggregates per-partition. Survivor intervals re-group
    * per doc (narrow (start, len) pairs, ~n/stride per doc), and reassembly
    * expands intervals to covered indices via sequence+flatten+distinct —
    * O(n · windowTokens/stride) per doc, linear for a fixed overlap factor,
    * all inside one codegen'd projection. The token arrays are rebuilt from
    * the original df at the final join rather than checkpointed through the
    * pipeline — tokenization is CPU-cheap; materializing the tokenized
    * corpus would be a second copy of the data. Measured (Scratch, sf0.1):
    * 5× corpus → 1.7× wall-clock for both this and [[dedupWindowsAgainst]]
    * — scheduling-floor-dominated at bench SF, no candidate blowup
    * anywhere in the chain.
    */
  def dedupWindows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50,
      stride: Int = 25): DataFrame = {
    requireWindowParams(windowTokens, stride)
    val base = tokenBase(df, idCol, textCol)
    val wins = windowRows(base, windowTokens, stride)
    val firsts = wins.groupBy(col("_d"))
      .agg(min(struct(col("id"), col("p"))).as("_first"))
    val alive = wins.join(firsts, Seq("_d"))
      .filter(col("id") === col("_first.id") && col("p") === col("_first.p"))
    reassembleFromWindows(base, alive)
  }

  /** Cross-snapshot substring-window dedup — [[dedupWindows]]' incremental
    * form, completing the family the way [[dedupAgainst]] completes
    * [[exact]]: windows of the NEW batch die when their k-token content
    * appears ANYWHERE in the reference corpus (at any offset — the
    * reference side enumerates every k-gram, stride 1, so batch duplicates
    * of reference substrings are caught regardless of alignment), and
    * within the batch the usual corpus-wide first occurrence survives.
    * This is the nightly crawl-ingest shape: the accepted corpus never
    * rewrites, only the new batch cleans against it. Output shape matches
    * the family: (id, `text_dedup`, `n_tokens`, `n_kept`).
    *
    * Shape at 100 TB: the reference never materializes text off-scan — its
    * k-grams digest in-row ([[graft.functions.shinglesFromTokens]], the
    * native codegen kernel) and shuffle ONLY as distinct 32-byte digests;
    * the batch side anti-joins on the digest (shuffle-or-broadcast by the
    * cost model — a reference's distinct-gram table is corpus-scaled, so
    * expect a shuffle anti join on narrow keys, same posture as
    * [[stripBoilerplate]]'s documented fallback). Stride-1 enumeration of
    * the reference is the honest price of exact substring containment —
    * ~|ref tokens| narrow rows through one distinct, once per ingest; a
    * coarser reference stride would silently miss misaligned duplicates.
    */
  def dedupWindowsAgainst(
      batch: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 50,
      stride: Int = 25): DataFrame = {
    requireWindowParams(windowTokens, stride)
    val refDigests = reference
      .select(explode(shinglesFromTokens(
        coalesce(tokens(col(textCol)), array().cast("array<string>")),
        windowTokens)).as("_g"))
      .select(unhex(sha2(col("_g").cast("binary"), 256)).as("_d"))
      .distinct()
    val base = tokenBase(batch, idCol, textCol)
    // checkpoint AFTER the reference anti join, not before it: `fresh` is
    // the table both consumers read — checkpointing `wins` here would
    // materialize the batch windows once and then run the reference
    // distinct + anti join TWICE (measured: +2 exchanges in the gate plan)
    val wins = windowRows(base, windowTokens, stride, checkpoint = false)
    val fresh = wins.join(refDigests, Seq("_d"), "left_anti")
      .localCheckpoint(false)
    val firsts = fresh.groupBy(col("_d"))
      .agg(min(struct(col("id"), col("p"))).as("_first"))
    val alive = fresh.join(firsts, Seq("_d"))
      .filter(col("id") === col("_first.id") && col("p") === col("_first.p"))
    reassembleFromWindows(base, alive)
  }

  private def requireWindowParams(windowTokens: Int, stride: Int): Unit = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(stride >= 1 && stride <= windowTokens,
      "stride must be in [1, windowTokens] — a stride beyond the window " +
        "length leaves tokens covered by no window, which silently deletes them")
  }

  /** (id, _toks, _n) — the tokenized view both window passes read. */
  private def tokenBase(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toksCol = coalesce(tokens(col(textCol)), array().cast("array<string>"))
    df.select(col(idCol).as("id"), toksCol.as("_toks"))
      .withColumn("_n", size(col("_toks")))
  }

  /** Narrow window table (id, p, len, _d): starts at every multiple of
    * `stride` plus the tail window (so every token is covered), whole-doc
    * window for docs shorter than `k`. Checkpointed (lazily) when it is the
    * table both downstream consumers read — without that the
    * tokenize+explode+sha2 pass runs twice (same discipline as
    * dedupSegments' segment table; local blocks, spills to executor disk
    * at scale); the against-variant checkpoints one stage later instead.
    */
  private def windowRows(
      base: DataFrame, k: Int, stride: Int, checkpoint: Boolean = true): DataFrame = {
    val starts = when(col("_n") === 0, array().cast("array<int>"))
      .when(col("_n") <= k, array(lit(0)))
      .otherwise(array_union(
        sequence(lit(0), col("_n") - k, lit(stride)),
        array(col("_n") - k)))
    val wins = base
      .select(col("id"), col("_toks"), col("_n"), explode(starts).as("p"))
      .select(col("id"), col("p"),
        least(lit(k), col("_n")).as("len"),
        unhex(sha2(
          array_join(slice(col("_toks"), col("p") + 1, least(lit(k), col("_n"))), " ")
            .cast("binary"), 256)).as("_d"))
    if (checkpoint) wins.localCheckpoint(false) else wins
  }

  /** Per-doc reassembly from surviving windows: collect (start, len)
    * intervals, expand to covered token indices (linear for a fixed
    * overlap factor), rebuild the token stream in order. Docs with no
    * surviving window keep an empty string, never disappear.
    */
  private def reassembleFromWindows(base: DataFrame, alive: DataFrame): DataFrame = {
    val ivs = alive
      .groupBy(col("id"))
      .agg(collect_list(struct(col("p"), col("len"))).as("_ivs"))
    val keptIdx = when(col("_ivs").isNull, array().cast("array<int>"))
      .otherwise(array_sort(array_distinct(flatten(transform(col("_ivs"),
        iv => sequence(iv.getField("p"), iv.getField("p") + iv.getField("len") - 1))))))
    base.join(ivs, Seq("id"), "left")
      .select(col("id"), col("_toks"), col("_n"), keptIdx.as("_kept"))
      .select(
        col("id"),
        coalesce(
          array_join(transform(col("_kept"), i => element_at(col("_toks"), i + 1)), " "),
          lit("")).as("text_dedup"),
        col("_n").cast("long").as("n_tokens"),
        coalesce(size(col("_kept")), lit(0)).cast("long").as("n_kept"))
  }

  /** Benchmark decontamination: flag corpus documents that share any word
    * n-gram with a benchmark/eval set — the standard "did the training data
    * leak the test set" check. Returns (id, n_hit_grams, n_grams) for
    * contaminated docs only.
    *
    * Shape at 100 TB: the benchmark side is small (eval sets are thousands of
    * docs), so its distinct gram set is BROADCAST and the corpus does one
    * scan — explode grams, broadcast-hash semi-match, re-aggregate by doc.
    * The corpus never shuffles its text; the only exchange carries narrow
    * (id, counts) rows for docs that actually hit. Grams join as strings
    * (not hashes) so a hit is a hit, never a hash collision accusation.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    def grams(df: DataFrame): DataFrame = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(array_distinct(shinglesFromTokens(col("_toks"), shingleN))).as("g"))
    val benchGrams = grams(benchmark).select(col("g")).distinct()
    grams(corpus)
      .join(broadcast(benchGrams).withColumn("_hit", lit(1)), Seq("g"), "left")
      .groupBy(col("id"))
      .agg(sum(col("_hit")).as("n_hit_grams"), count(lit(1)).as("n_grams"))
      .filter(col("n_hit_grams") >= 1)
      .select(col("id"), col("n_hit_grams").cast("long").as("n_hit_grams"), col("n_grams"))
  }

  /** EXACT containment self-join — the ASYMMETRIC member of the
    * set-similarity family: every DIRECTED pair `(a_id, b_id)`, a ≠ b, with
    * `|A∩B| / |A| >= threshold` — "A is (nearly) contained in B". This is
    * the measure the symmetric joins structurally cannot see: a quote, an
    * excerpt, or a chunk inside a much longer host sits at Jaccard ≈
    * |A|/|B| ≈ 0 and cosine ≈ √(|A|/|B|), both arbitrarily small, while
    * containment is 1.0 regardless of the host's length.
    *
    * Why the engine differs from [[setSimilarityJoin]]: containment puts NO
    * upper bound on the host's size, so there is no symmetric size filter
    * and no host-side prefix — a host must be probed through its FULL
    * posting list (miss any element and a fully-contained A whose one
    * prefix element is that one is lost). Candidates are therefore
    * query-prefix × full-postings: A's first `|A| − ceil(t·|A|) + 1`
    * elements in the global rarest-first order (pigeonhole: B missing all
    * of them caps `|A∩B|` at `ceil(t·|A|) − 1 < t·|A|`) joined on the
    * shingle hash against every doc's full set, with the one surviving
    * size bound `|B| >= ceil(t·|A|)` applied inside the join. Rarest-first
    * prefixes keep stop-shingles out of the probe side; the full-posting
    * side is the price of the asymmetric measure and is linear in corpus
    * shingle volume — an equality join on narrow (h, id, sz) rows, AQE
    * skew-handled, never all-pairs.
    *
    * Same exact-integer prune arithmetic as the siblings (floor-rational
    * `ceil(t·sz)`, conservative toward recall), same
    * [[org.apache.spark.sql.graft.SortedIntersectCount]] verify, one IEEE
    * division for the final predicate. Returns
    * `(a_id, b_id, inter_size, a_sz, containment)` — directed, so a
    * near-identical pair legitimately appears in both orientations.
    */
  def containmentJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val den = 1000000L
    val tNum = (threshold * den).toLong
    def ceilT(sz: Column): Column = {
      val x = lit(tNum) * sz + lit(den - 1)
      ((x - pmod(x, lit(den))) / lit(den)).cast("long")
    }

    val ex = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(shingleHashesFromTokens(col("_toks"), shingleN)).as("h"))
      .localCheckpoint(false)
    val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("dfc"))
    val docsT = ex.join(dfc, "h")
      .groupBy(col("id"))
      .agg(
        transform(array_sort(collect_list(struct(col("dfc"), col("h")))),
          e => e.getField("h")).as("hs"),
        array_sort(collect_list(col("h"))).as("shs"),
        count(lit(1)).as("sz"))
      .withColumn("plen", (col("sz") - ceilT(col("sz")) + lit(1)).cast("int"))
      .localCheckpoint(false)

    // query-side prefix vs host-side FULL postings (shs: same elements,
    // numeric order — the order is irrelevant on the probe-target side)
    val pref = docsT.select(col("id").as("a_id"), col("sz").as("a_sz"),
      explode(slice(col("hs"), lit(1), col("plen"))).as("h"))
    val full = docsT.select(col("id").as("b_id"), col("sz").as("b_sz"),
      explode(col("shs")).as("h"))
    val cand = pref
      .join(full, Seq("h"))
      .filter(col("a_id") =!= col("b_id") && col("b_sz") >= ceilT(col("a_sz")))
      .select(col("a_id"), col("b_id"))
      .distinct()

    cand
      .join(docsT.select(col("id").as("a_id"), col("shs").as("a_hs"), col("sz").as("a_sz")), "a_id")
      .join(docsT.select(col("id").as("b_id"), col("shs").as("b_hs")), "b_id")
      .withColumn("inter_size",
        org.apache.spark.sql.graft.SortedIntersectCount(col("a_hs"), col("b_hs")))
      .withColumn("containment", col("inter_size").cast("double") / col("a_sz"))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter_size"), col("a_sz"), col("containment"))
  }

  /** EXACT binary-cosine set-similarity self-join — [[setSimilarityJoin]]'s
    * COSINE sibling: every pair with `|∩| / sqrt(|A|·|B|) >= threshold`
    * (Ochiai coefficient over distinct shingle-hash sets — the
    * length-normalized measure, kinder than Jaccard when one doc is a long
    * superset of the other). Same prefix-filter engine, different bounds:
    * a cosine-t pair satisfies `|∩| >= t²·sz` on EACH side (via the size
    * filter `|B| >= t²·|A|`, so `t·sqrt(|A||B|) >= t²·max`), hence prefix
    * length `sz − ceil(t²·sz) + 1` and the size filter both key off t².
    *
    * t² bounds stay in the exact small-integer lane by DECOMPOSITION —
    * `ceil(t²·sz) >= ceilT(floorT(sz))` with both steps over `t·x <= 1e11`
    * products (the one-shot `t²·sz` over a 1e12 denominator would leave
    * double-exactness at 1e17) — conservative by at most one position, so
    * recall can only gain. Verify is the identical IEEE chain in any
    * engine: one multiply, one correctly-rounded sqrt, one division.
    * Returns `(a_id, b_id, inter_size, cosine)`, a_id < b_id.
    */
  def cosineSetJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val den = 1000000L
    val tNum = (threshold * den).toLong
    def ceilT(sz: Column): Column = {
      val x = lit(tNum) * sz + lit(den - 1)
      ((x - pmod(x, lit(den))) / lit(den)).cast("long")
    }
    def floorT(sz: Column): Column = {
      val x = lit(tNum) * sz
      ((x - pmod(x, lit(den))) / lit(den)).cast("long")
    }
    // safe lower bound of ceil(t²·sz): prefixes only get longer
    def ceilT2(sz: Column): Column = ceilT(floorT(sz))

    val ex = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(shingleHashesFromTokens(col("_toks"), shingleN)).as("h"))
      .localCheckpoint(false)
    val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("dfc"))
    val docsT = ex.join(dfc, "h")
      .groupBy(col("id"))
      .agg(
        transform(array_sort(collect_list(struct(col("dfc"), col("h")))),
          e => e.getField("h")).as("hs"),
        array_sort(collect_list(col("h"))).as("shs"),
        count(lit(1)).as("sz"))
      .withColumn("plen", (col("sz") - ceilT2(col("sz")) + lit(1)).cast("int"))
      .localCheckpoint(false)
    val pref = docsT.select(col("id"), col("sz"),
      explode(slice(col("hs"), lit(1), col("plen"))).as("h"))
    val cand = pref.select(col("id").as("a_id"), col("sz").as("a_sz"), col("h"))
      .join(pref.select(col("id").as("b_id"), col("sz").as("b_sz"), col("h")), Seq("h"))
      .filter(col("a_id") < col("b_id") &&
        col("b_sz") >= ceilT2(col("a_sz")) && col("a_sz") >= ceilT2(col("b_sz")))
      .select(col("a_id"), col("b_id"))
      .distinct()
    cand
      .join(docsT.select(col("id").as("a_id"), col("shs").as("a_hs"), col("sz").as("a_sz")), "a_id")
      .join(docsT.select(col("id").as("b_id"), col("shs").as("b_hs"), col("sz").as("b_sz")), "b_id")
      .withColumn("inter_size",
        org.apache.spark.sql.graft.SortedIntersectCount(col("a_hs"), col("b_hs")))
      .withColumn("cosine", col("inter_size").cast("double") /
        sqrt((col("a_sz") * col("b_sz")).cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter_size"), col("cosine"))
  }

  /** EXACT set-similarity self-join (the VernicaJoin / prefix-filter family,
    * Vernica–Carey–Li SIGMOD'10): every pair `(a_id, b_id)` with shingle-set
    * Jaccard >= `threshold`, a_id < b_id, with the exact
    * `(inter_size, union_size, jaccard)` — unlike [[minHashLsh]] this is not
    * probabilistic: recall is 100% by construction, which is what a
    * compliance-grade dedup audit needs.
    *
    * How it avoids all-pairs (the whole point at 100 TB):
    *  1. Every doc's distinct shingle-hash set is sorted by GLOBAL document
    *     frequency ascending (rarest first, ties by hash) — the VernicaJoin
    *     canonical order. The df table is shingle-vocabulary-sized, so the
    *     order attaches via a hash join on the narrow (id, h) stream, never
    *     a broadcast assumption.
    *  2. Prefix filter: two sets with Jaccard >= t MUST share an element
    *     among each one's first `sz - ceil(t*sz) + 1` elements of that
    *     order, so candidates come from a join keyed on prefix elements
    *     only — and rare-first prefixes keep stop-shingles out of the join
    *     key almost always (AQE skew-join covers the residue).
    *  3. Length filter inside the candidate join (`t*max <= min` via the
    *     same exact ceil) prunes size-incompatible pairs pre-verify.
    *  4. Exact verify on candidates only: `array_intersect` of the two
    *     sorted hash arrays (hash-set intersect, O(|a|+|b|)), one IEEE
    *     division for the final jaccard — identical in any engine.
    *
    * The pruning bounds use ceil over the FLOOR rational `(t*1e6).toLong /
    * 1e6 <= t` in pure integer arithmetic, so they can only err toward
    * longer prefixes / more candidates — recall is never lost to a float
    * rounding; only the final verify predicate touches the IEEE threshold.
    * Sizes count hashed shingles ([[shingleHashesFromTokens]]): identical to
    * string-shingle sizes absent a 64-bit collision inside one doc pair —
    * the same injectivity stance as [[jaccardVerify]]. Shingle-less docs
    * (zero tokens) have no set and are excluded, not reported as J=1 twins.
    */
  def setSimilarityJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    val den = 1000000L
    val tNum = (threshold * den).toLong
    // exact ceil(tNum*sz/den) in integer arithmetic: subtract the floor-mod,
    // then the division of two exact integers with an integer quotient is
    // exact even through the double lane (the writeTimePartitioned rule)
    def ceilT(sz: Column): Column = {
      val x = lit(tNum) * sz + lit(den - 1)
      ((x - pmod(x, lit(den))) / lit(den)).cast("long")
    }

    // narrow (id, h) distinct-per-doc stream; checkpointed — it feeds the
    // df-count aggregation AND the ordered re-aggregation below
    val ex = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(shingleHashesFromTokens(col("_toks"), shingleN)).as("h"))
      .localCheckpoint(false)
    val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("dfc"))

    // per doc: shingle hashes sorted rare-first (the prefix order) PLUS the
    // numerically-sorted twin the verify kernel merges — same bytes either
    // way, and the verify join ships only the sorted copy; checkpointed —
    // feeds the prefix stream and BOTH verify joins
    val docsT = ex.join(dfc, "h")
      .groupBy(col("id"))
      .agg(
        transform(array_sort(collect_list(struct(col("dfc"), col("h")))),
          e => e.getField("h")).as("hs"),
        array_sort(collect_list(col("h"))).as("shs"),
        count(lit(1)).as("sz"))
      .withColumn("plen", (col("sz") - ceilT(col("sz")) + lit(1)).cast("int"))
      .localCheckpoint(false)

    val pref = docsT.select(col("id"), col("sz"),
      explode(slice(col("hs"), lit(1), col("plen"))).as("h"))
    val cand = pref.select(col("id").as("a_id"), col("sz").as("a_sz"), col("h"))
      .join(pref.select(col("id").as("b_id"), col("sz").as("b_sz"), col("h")), Seq("h"))
      .filter(col("a_id") < col("b_id") &&
        col("b_sz") >= ceilT(col("a_sz")) && col("a_sz") >= ceilT(col("b_sz")))
      .select(col("a_id"), col("b_id"))
      .distinct()

    // verify: the native two-pointer merge over the sorted twins — the
    // composed size(array_intersect(...)) allocated a hash set + result
    // array PER CANDIDATE, the measured source of this query's GC-bound
    // slow mode under full-suite heap pressure
    cand
      .join(docsT.select(col("id").as("a_id"), col("shs").as("a_hs"), col("sz").as("a_sz")), "a_id")
      .join(docsT.select(col("id").as("b_id"), col("shs").as("b_hs"), col("sz").as("b_sz")), "b_id")
      .withColumn("inter_size",
        org.apache.spark.sql.graft.SortedIntersectCount(col("a_hs"), col("b_hs")))
      .withColumn("union_size", col("a_sz") + col("b_sz") - col("inter_size"))
      .withColumn("jaccard", col("inter_size").cast("double") / col("union_size"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("inter_size"), col("union_size"), col("jaccard"))
  }

  /** EXACT edit-distance similarity self-join (the ED-Join / q-gram
    * prefix-filter family, Xiao–Wang–Lin VLDB'08): every pair of DISTINCT
    * string values within Levenshtein distance `[1, maxDistance]`, with the
    * exact distance — 100% recall by construction (graded against all-pairs
    * ground truth), the string-identity member next to the set-similarity
    * joins above: Jaccard sees shared vocabulary, edit distance sees typos,
    * OCR noise, and serial-number neighbors that token sets cannot.
    *
    * Semantics: the join runs over distinct VALUES of `strCol` (each
    * represented by its minimum `idCol` — ids must be non-null); identical
    * strings are distance 0 and deliberately absent — identity clusters are
    * [[exact]]'s job, and emitting C(n,2) rows inside a hot value group is
    * the all-pairs blowup this family exists to avoid. Output
    * `(a_id, b_id, dist)` with `a_id < b_id`. NULL strings drop.
    *
    * How it avoids all-pairs at 100 TB:
    *  1. Each value's q-gram MULTISET (positional windows, no dedup — the
    *     multiset keeps `sz = len − q + 1` tied to length, which is what
    *     length-bounds the short-string path) sorts by global gram
    *     frequency ascending (rarest first, ties by gram) — the frequency
    *     table is gram-vocabulary-sized and attaches via a hash join on
    *     the narrow (id, gram) stream, never a broadcast assumption.
    *  2. One edit destroys at most `q` gram occurrences, so
    *     `ed(a,b) <= t` forces the first `t*q + 1` occurrences of each
    *     side's rare-first order to share a gram VALUE (the prefix-filter
    *     theorem; the value-join formulation is tie-order-proof).
    *     Candidates come from a join keyed on prefix grams only; rare-first
    *     prefixes keep stop-grams out of the join key almost always (AQE
    *     skew-join covers the residue — the [[setSimilarityJoin]] stance).
    *  3. Length filter `|len_a − len_b| <= t` inside the candidate join.
    *  4. Values too short to carry `t*q + 1` grams (`len < q + t*q`) take
    *     the SHORT path: their admissible partners are length-bounded too
    *     (`len <= q + t*q − 1 + t`), so the pairing is a band join over
    *     the distinct short-value table — bounded by the alphabet's
    *     short-string vocabulary, never the corpus.
    *  5. Exact verify on candidates only, BEFORE deduplication, via the
    *     native [[org.apache.spark.sql.graft.EditDistanceWithin]] kernel
    *     (common-prefix/suffix strip + early-exit two-row DP on in-place
    *     bytes — the builtin levenshtein measured ~55 µs/pair, 16+ s over
    *     the candidate stream; the kernel is ~two orders cheaper, and
    *     verifying first means the final distinct shuffles only TRUE
    *     pairs, never the candidate stream). Candidate strings ride the
    *     prefix rows themselves, so no attach-back join ever touches the
    *     (huge) candidate stream — only value-sized prefix tables are
    *     exchanged; the pairs are join OUTPUT, consumed by the codegen'd
    *     filter in place.
    */
  def editDistanceJoin(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDistance: Int,
      q: Int = 3): DataFrame = {
    require(maxDistance >= 1, s"maxDistance must be >= 1 (got $maxDistance)")
    require(q >= 2, s"q must be >= 2 (got $q)")
    val plen = maxDistance * q + 1  // prefix occurrences per big value
    val shortLen = q + maxDistance * q - 1  // sz < plen  <=>  len <= shortLen
    // distinct values, min-id representative; checkpointed — the gram
    // stream, the short path, and both verify joins all hang off it
    val vals = df
      .filter(col(strCol).isNotNull)
      .groupBy(col(strCol).as("_s"))
      .agg(min(col(idCol)).as("_id"))
      .withColumn("_len", length(col("_s")))
      .localCheckpoint(false)
    // positional q-gram multiset per value, in-row (no per-position
    // explode until the narrow (_id, _g, _p) stream); sequence() flips to
    // a descending range when len < q, so the short case must
    // short-circuit to an empty array
    val gramsArr = when(col("_len") >= q,
      transform(sequence(lit(1), col("_len") - (q - 1)),
        i => struct(col("_s").substr(i, lit(q)).as("_g"), i.as("_p"))))
      .otherwise(array())
    val ex = vals.select(col("_id"), explode(gramsArr).as("_gp"))
      .select(col("_id"), col("_gp._g").as("_g"), col("_gp._p").as("_p"))
      .localCheckpoint(false)
    val dfc = ex.groupBy(col("_g")).agg(count(lit(1)).as("_dfc"))
    // rare-first prefix occurrences of the big values: sort by (global
    // freq, gram, POSITION) — the position key makes equal-gram ties a
    // total order, which the location filter's proof needs — keep the
    // first plen with their positions; checkpointed because the candidate
    // SELF-JOIN consumes it twice
    val nPart = df.sparkSession.sessionState.conf.numShufflePartitions
    val pref = ex.join(dfc, "_g")
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(
        struct(col("_dfc"), col("_g"), col("_p")))).as("_hs"))
      // the VALUE rides the prefix rows: the candidate join then emits
      // both strings directly and the threshold levenshtein verifies
      // INSIDE the join's post-filter — no attach-back join ever touches
      // the (huge) candidate stream; only the two value-sized prefix
      // sides are exchanged
      .join(vals.select(col("_id"), col("_s"), col("_len")), "_id")
      .filter(col("_len") > shortLen)
      .select(col("_id"), col("_s"), col("_len"),
        explode(slice(col("_hs"), 1, plen)).as("_e"))
      .select(col("_id"), col("_s"), col("_len"),
        col("_e._g").as("_g"), col("_e._p").as("_p"))
      // hash-partitioned on the join key BEFORE the checkpoint: the
      // checkpoint keeps that partitioning, so both self-join sides read
      // it in place — no exchange at the join, hence no shuffle read for
      // AQE to coalesce. The join's cost is its OUTPUT (the per-gram f²
      // pair expansion and the codegen'd verify) while its input is a few
      // MB of prefix rows, so a coalesced read collapsed it to ONE task
      // (measured r20: 3.1 s of a 4.4 s query); a user-specified
      // repartition is never coalesced and keeps nPart tasks at any scale
      .repartition(nPart, col("_g"))
      .localCheckpoint(false)
    // the ED-Join LOCATION filter rides the candidate join: distance-t
    // pairs must share a prefix gram within t POSITIONS (with prefixes
    // sorted (freq, gram, pos) the aligned-occurrence argument closes even
    // through the tie case: if e_A∈P_A aligns outside P_B, the witnessing
    // f_B∈P_B has the same gram and |pos(e_A)−pos(f_B)| ≤ 2 one-sided
    // τ-shifts that collapse to ≤ τ — see the spec's brute-force gate).
    // On serial-number corpora the value-only filter admits f² pairs per
    // hot tail gram (measured 10M candidates / 15k names at sf0.1); the
    // position predicate cuts that to the truly alignable pairs
    val candBig = pref.select(col("_id").as("_aid"), col("_s").as("_as"),
        col("_len").as("_al"), col("_g"), col("_p").as("_pa"))
      .join(pref.select(col("_id").as("_bid"), col("_s").as("_bs"),
        col("_len").as("_bl"), col("_g"), col("_p").as("_pb")), Seq("_g"))
      .filter(col("_aid") < col("_bid") &&
        abs(col("_al") - col("_bl")) <= maxDistance &&
        abs(col("_pa") - col("_pb")) <= maxDistance)
      .select(col("_aid"), col("_bid"), col("_as"), col("_bs"))
    // short path: values with fewer than plen gram occurrences pair against
    // every value within maxDistance of their length — both sides length-
    // bounded, so this is a band join over the short VOCABULARY (the
    // explode enumerates the 2t+1 admissible partner lengths per short row)
    val shorts = vals.filter(col("_len") <= shortLen)
    val partners = vals.filter(col("_len") <= shortLen + maxDistance)
    val candShort = shorts
      .select(col("_id").as("_aid"), col("_s").as("_as"),
        explode(sequence(col("_len") - maxDistance, col("_len") + maxDistance))
          .as("_pl"))
      .join(partners.select(col("_id").as("_bid"), col("_s").as("_bs"),
        col("_len").as("_pl")), Seq("_pl"))
      .filter(col("_aid") =!= col("_bid"))
      .select(least(col("_aid"), col("_bid")).as("_aid"),
        greatest(col("_aid"), col("_bid")).as("_bid"),
        when(col("_aid") < col("_bid"), col("_as")).otherwise(col("_bs")).as("_as"),
        when(col("_aid") < col("_bid"), col("_bs")).otherwise(col("_as")).as("_bs"))
    // verify BEFORE deduplicating: a pair sharing several prefix grams
    // reaches the threshold levenshtein once per witness (an extra
    // codegen'd char comparison), and the distinct runs over the tiny
    // VERIFIED set — deduplicating first would shuffle the full candidate
    // stream on the pair key, which on a serial-number corpus (every hot
    // tail gram admitting f² pairs the length and position filters cannot
    // cut — all values share one length and one layout) measured 16 s of
    // pure exchange at sf0.1 vs sub-second this way
    candBig.unionByName(candShort)
      .withColumn("dist", org.apache.spark.sql.graft.EditDistanceWithin(
        col("_as"), col("_bs"), maxDistance))
      .filter(col("dist") >= 1 && col("dist") <= maxDistance)
      .select(
        least(col("_aid"), col("_bid")).as("a_id"),
        greatest(col("_aid"), col("_bid")).as("b_id"),
        col("dist").cast("long").as("dist"))
      .distinct()
  }

  /** Content-defined chunking (public knowledge — the rsync/LBFS/FastCDC
    * family): documents split at ROLLING-HASH boundaries instead of fixed
    * offsets — token position `i` ends a chunk when the hash of the last
    * `gramSize` tokens satisfies `H % modulus == 0` (expected chunk length
    * ≈ `modulus` tokens), the final chunk absorbing the tail. The point vs
    * [[dedupWindows]]' fixed grid: boundaries are functions of CONTENT, so
    * an insertion near the top of a document shifts only the chunks whose
    * g-token windows contain it — every later boundary lands on the same
    * content and the chunk stream RE-SYNCHRONIZES, where fixed windows
    * stay misaligned to the end of the document. `H` is the first 8 hex
    * chars of md5 over the space-joined window — engine-portable integers,
    * no platform hash.
    *
    * Returns one row per chunk: `(id, chunk_idx, n_tokens, chunk_text,
    * chunk_hash)` (`chunk_hash` = md5 of the chunk text). Documents with
    * no tokens yield no chunks.
    *
    * Shape at 100 TB: boundary detection, chunk assembly, and hashing are
    * ONE in-row projection (filter/slice/transform over the token array —
    * linear in document length, no per-position explode, no window
    * exchange, no shuffle); only the per-chunk rows leave the scan.
    */
  def cdcChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      gramSize: Int = 8,
      modulus: Int = 16): DataFrame = {
    require(gramSize >= 1, "gramSize must be >= 1")
    require(modulus >= 2, "modulus must be >= 2")
    // STAGED projections, each referencing the previous stage's MATERIALIZED
    // column, never the expression: interpreted HOF lambdas re-evaluate
    // their child per reference (the sortedNeighborPairs lesson), so an
    // inline tokens(text) inside the per-position boundary lambda
    // re-tokenizes the whole document PER POSITION — O(n²) per doc,
    // measured 486 s at sf0.1 vs ~1 s staged. CollapseProject keeps the
    // stages apart (the aliases are non-cheap and multiply referenced).
    val toks = col("_cdc_toks")
    val n = size(toks)
    val bposE = filter(sequence(lit(1), n), i =>
      i >= gramSize &&
        (conv(substring(md5(
          array_join(slice(toks, i - (gramSize - 1), lit(gramSize)), " ")
            .cast("binary")), 1, 8), 16, 10).cast("long") % modulus) === 0)
    val bpos = col("_cdc_bpos")
    val lastIsN = size(bpos) > 0 && get(bpos, size(bpos) - 1) === n
    val endsE = when(lastIsN, bpos).otherwise(concat(bpos, array(n)))
    val ends = col("_cdc_ends")
    val chunks = transform(sequence(lit(1), size(ends)), k => {
      val start = when(k === 1, lit(1)).otherwise(get(ends, k - 2) + 1)
      val end = get(ends, k - 1)
      struct(k.cast("int").as("chunk_idx"),
        (end - start + 1).cast("int").as("n_tokens"),
        array_join(slice(toks, start, end - start + 1), " ").as("chunk_text"))
    })
    df.select(col(idCol).as("id"),
      graft.functions.tokens(col(textCol)).as("_cdc_toks"))
      .select(col("id"), toks, bposE.as("_cdc_bpos"))
      .select(col("id"), toks, endsE.as("_cdc_ends"))
      .select(col("id"),
        explode(when(n >= 1, chunks)
          .otherwise(array().cast("array<struct<chunk_idx:int,n_tokens:int,chunk_text:string>>")))
          .as("c"))
      .select(col("id"), col("c.chunk_idx"), col("c.n_tokens"),
        col("c.chunk_text"),
        md5(col("c.chunk_text").cast("binary")).as("chunk_hash"))
  }

  /** Duplicate-chunk report over [[cdcChunks]]: every chunk content that
    * occurs more than once in the corpus, with exact occurrence/document
    * counts — the edit-robust segment-dedup diagnostic (a copied passage
    * inside an otherwise-edited document surfaces here even when a leading
    * insertion de-aligned every fixed window). Only 32-char digests enter
    * the aggregation; text never shuffles.
    */
  def cdcDuplicateChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      gramSize: Int = 8,
      modulus: Int = 16): DataFrame =
    cdcChunks(df, idCol, textCol, gramSize, modulus)
      .select(col("chunk_hash"), col("n_tokens"), col("id"))
      .groupBy(col("chunk_hash"))
      .agg(min(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("id")).as("n_docs"),
        min(col("id")).as("first_id"))
      .filter(col("n_occurrences") > 1)

  /** Cross-snapshot CDC dedup — the incremental cell of the CDC family
    * (the way [[dedupAgainst]]/[[dedupWindowsAgainst]]/[[minHashLshAgainst]]
    * complete theirs): each NEW-batch document is chunked content-defined
    * and scored by how much of it the ACCEPTED reference corpus already
    * contains — per doc, chunk and token counts, how many chunks/tokens
    * already exist in the reference's chunk set, and the duplication rate
    * as integral ppm over TOKENS (token-weighted, so one long copied
    * passage scores honestly against many short fresh chunks). Because
    * boundaries are content-defined, a reference passage pasted into a new
    * document — at ANY offset, even after leading edits — re-synchronizes
    * to the same chunks and is caught; the fixed-grid form
    * ([[dedupWindowsAgainst]]) pays stride-1 reference enumeration for the
    * same guarantee, while here the reference stores only its ~(tokens /
    * modulus) chunk digests. The selection decision stays with the caller
    * (gate on `dup_token_ppm`), the report IS the contract.
    *
    * Shape at 100 TB: both sides chunk at scan speed (the staged
    * [[cdcChunks]] projection); the reference leaves its scan as DISTINCT
    * 32-char digests only, and the batch probes them with one left-semi
    * shape (a join on the digest, planner-chosen shuffle-or-broadcast)
    * followed by a per-doc aggregation — text never shuffles on either
    * side.
    */
  def cdcDedupAgainst(
      batch: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String,
      gramSize: Int = 8,
      modulus: Int = 16): DataFrame = {
    val refHashes = cdcChunks(reference, idCol, textCol, gramSize, modulus)
      .select(col("chunk_hash")).distinct()
    val probed = cdcChunks(batch, idCol, textCol, gramSize, modulus)
      .join(refHashes.withColumn("_in_ref", lit(1)), Seq("chunk_hash"), "left")
    probed
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(when(col("_in_ref").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("_in_ref").isNotNull, col("n_tokens").cast("long"))
          .otherwise(0L)).as("n_dup_tokens"))
      .withColumn("dup_token_ppm",
        expr("n_dup_tokens * 1000000 div n_tokens"))
  }
}
