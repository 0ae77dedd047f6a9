package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence amplifier (tooling, not part of the driver contract):
  * writes an N-copy amplified twin of an sf directory so queries can be
  * measured past the largest driver-generated SF — the round-7
  * copy-distinct discipline generalized to every table:
  *
  *  - every key column offsets by a per-copy stride, so the ENTITY
  *    universes (users, customers, orders, suppliers, parts, docs,
  *    vectors) grow with the corpus instead of multiplying per-key
  *    density N× (which would measure hot-key pathology, not scale);
  *    foreign keys share their parent's stride, so joins stay consistent;
  *  - document text gets a per-copy prefix token, so shingle/bigram
  *    boundaries shift and near-dup rates stay representative instead of
  *    exploding copies² (each doc would otherwise have N−1 exact twins);
  *  - embedding vectors perturb by a tiny per-copy constant for the same
  *    reason (identical copies would make every vector its own 10-NN);
  *  - timestamps/values/categories ride through unchanged — distributions
  *    per entity are what the operators see, and those should not drift.
  *
  * Output is meant for `target/` (uncommitted, regenerable): usage
  * `runMain graft.Amplify <srcSfDir> <outDir> <copies>`.
  */
object Amplify {
  def main(args: Array[String]): Unit = {
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    require(copies >= 1, "copies must be >= 1")
    val spark = LocalSession(LocalSession.cpus, LocalSession.cpus)

    def amp(table: String)(f: DataFrame => DataFrame): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
        .withColumn("_c", explode(typedLit((0L until copies.toLong).toSeq)))
      f(df).drop("_c").write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"amplified $table x$copies")
    }
    def off(c: String, stride: Long) = col(c) + col("_c") * stride

    // key strides: parents and their foreign keys MUST match
    val U = 10000000L   // user_id / c_custkey / o_custkey
    val O = 100000000L  // o_orderkey / l_orderkey
    val S = 1000000L    // s_suppkey / l_suppkey
    val P = 10000000L   // p_partkey / l_partkey
    // doc_id stride must be copy-distinct MODULO the media synthesizers'
    // small moduli too: the pixel/sample formulas are linear in doc_id mod
    // 256/16/12, and 10^8 ≡ 0 (mod 256 and 16) — copies {0,3,6,9} then
    // produce BIT-IDENTICAL images, quadratically exploding near-dup pairs
    // (measured: image_neardup 41x for 10x data before this fix). An odd
    // stride coprime to the formula moduli keeps every copy's media
    // genuinely distinct, the same discipline as the text prefix token.
    val D = 100000007L  // doc_id
    val V = 100000000L  // vec_id
    val E = 1000000000L // event_id

    amp("events")(df => df
      .withColumn("event_id", off("event_id", E))
      .withColumn("user_id", off("user_id", U)))
    amp("customer")(df => df.withColumn("c_custkey", off("c_custkey", U)))
    amp("orders")(df => df
      .withColumn("o_orderkey", off("o_orderkey", O))
      .withColumn("o_custkey", off("o_custkey", U)))
    amp("lineitem")(df => df
      .withColumn("l_orderkey", off("l_orderkey", O))
      .withColumn("l_partkey", off("l_partkey", P))
      .withColumn("l_suppkey", off("l_suppkey", S)))
    amp("supplier")(df => df.withColumn("s_suppkey", off("s_suppkey", S)))
    amp("part")(df => df.withColumn("p_partkey", off("p_partkey", P)))
    // copy-distinct TEXT needs more than a prefix token: shingle-based
    // features shift everywhere off one prepended token, but a TOKEN SET
    // barely changes (1 of ~L tokens), so exact set-similarity joins kept
    // finding every copy pair and their output grew quadratically in the
    // copy-family size (measured: cosine_set_join 22x for 10x data).
    // Suffixing every 5th token per copy diverges ~20% of the token set
    // between any two copies (cosine ≈ 0.8, jaccard ≈ 0.67 — below every
    // registered threshold) while token/row counts stay unchanged, so the
    // duplicate rate is again driven by each query's planted density, the
    // thing that scales linearly on a real corpus.
    amp("documents")(df => df
      .withColumn("doc_id", off("doc_id", D))
      .withColumn("text",
        concat(lit("c"), col("_c").cast("string"), lit(" "),
          when(col("_c") === 0L, col("text")).otherwise(
            array_join(zip_with(
              split(col("text"), " "),
              sequence(lit(0), size(split(col("text"), " ")) - 1),
              (w, i) => when(pmod(i, lit(5)) === pmod(col("_c"), lit(5)),
                concat(w, lit("x"), col("_c").cast("string"))).otherwise(w)),
              " "))))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: a per-copy CYCLIC DIMENSION SHIFT composed with per-CYCLE
    // SIGN FLIPS, not an epsilon nudge. The old `+ c * 0.0001` kept every
    // copy pair at cosine ≈ 1.0, so each base vector's copies formed a
    // genuine near-dup CLIQUE and the near-dup pair count grew
    // quadratically in the copy family — measured dedup_embedding: 2,000
    // pairs at sf0.1 → 377,179 on the 10× twin (188× output for 10× data;
    // the operator itself was LINEAR per output pair). Both maps are
    // isometries: within one copy the geometry is byte-identical to the
    // base universe (distances, norms, neighbor structure — exactly what
    // knn/IVF realism wants), while cross-copy cosines decorrelate to the
    // random-vector band (|cos| ~ 1/√d), far below every registered
    // near-dup threshold — so the duplicate rate is again driven by each
    // query's planted density, the thing that scales linearly on a real
    // corpus. The shift alone is taken mod d (=64), so copies c and c+d
    // would be BYTE-IDENTICAL (cosine exactly 1.0) — at the 100-copy sf100
    // twin that silently reintroduced 36 exact-duplicate copy pairs per
    // base vector. The second isometry is keyed on the shift CYCLE
    // g = c div d: each cycle g > 0 flips a deterministic xxhash64-chosen
    // sign pattern per dimension, so same-shift copies from different
    // cycles differ in ~d/2 signs (cosine ≈ 0 in expectation); cycle 0 is
    // the identity, keeping copy 0 byte-identical to the base universe.
    amp("embeddings")(df => df
      .withColumn("vec_id", off("vec_id", V))
      .withColumn("embedding", {
        val d = size(col("embedding"))
        val cycle = expr("_c div size(embedding)")
        transform(col("embedding"), (_, i) => {
          val shifted = element_at(col("embedding"),
            (pmod(i + col("_c"), d) + 1).cast("int"))
          val sign = when(cycle === 0L, lit(1.0f)).otherwise(
            when(pmod(xxhash64(cycle, i), lit(2L)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f)))
          shifted * sign
        })
      }))
    // pure dimension tables: fixed row counts at any SF, copy verbatim
    for (t <- Seq("nation", "region")) {
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"copied $t")
    }
    spark.stop()
  }
}
