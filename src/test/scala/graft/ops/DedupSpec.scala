package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact: collapses case/whitespace-normalized duplicates, keeps min id") {
    val df = docsDf(
      (1L, "Hello World"), (2L, "hello world  "), (3L, "something else"))
    val out = Dedup.exact(df, Seq("text"), "doc_id")
      .select("doc_id", "n_dups").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("minHashLsh: finds planted near-dups, no false positives on distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val near = base + " extra" // one appended token, high Jaccard
    val far = "completely different content about spark catalyst optimizer internals here now"
    val df = docsDf((1L, base), (2L, near), (3L, far), (4L, far + " words"))
    val pairs = Dedup.minHashLsh(df, "doc_id", "text", threshold = 0.6)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 3L)))
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(2L, 3L)))
  }

  test("minHashLsh: jaccard values are exact set Jaccard over shingle hashes") {
    // 12 tokens -> 10 shingles; +1 token -> 11, sharing 10 => J = 10/11
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    val df = docsDf((1L, a), (2L, a + " w13"))
    val out = Dedup.minHashLsh(df, "doc_id", "text", threshold = 0.5).collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getAs[Double]("jaccard") - 10.0 / 11.0) < 1e-12)
  }

  test("simHashNearDup: exact dups at hamming 0; distinct docs not paired") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "totally unrelated words about databases and distributed query engines"
    val df = docsDf((1L, a), (2L, a), (3L, b))
    val out = Dedup.simHashNearDup(df, "doc_id", "text", maxHamming = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(out.head.getAs[Int]("hamming") == 0)
  }

  test("simHash: one-token change moves few bits; different text moves many") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val df = docsDf((1L, a), (2L, a + " omega"),
      (3L, "entirely different vocabulary concerning streaming watermarks and state"))
    val hs = Dedup.simHash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(hs(1L), hs(2L)) < ham(hs(1L), hs(3L)))
    assert(ham(hs(1L), hs(2L)) <= 12)
  }

  test("embeddingNearDup: scaled twin found; orthogonal vectors not") {
    import spark.implicits._
    val v1 = Seq.tabulate(8)(i => math.sin(i + 1).toFloat)
    val v1s = v1.map(x => x * 1.001f) // same direction
    val v2 = Seq.tabulate(8)(i => math.cos(3 * i + 2).toFloat) // unrelated
    val df = Seq((1L, v1), (2L, v1s), (3L, v2)).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(df, "vec_id", "embedding", dim = 8, numPlanes = 6)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(out.head.getAs[Double]("cosine") > 0.999)
  }

  test("semanticDedup: twins collapse, best quality survives, ties to min id, singletons stay") {
    import spark.implicits._
    // ids ordered so the k-means seeds (the numClusters LOWEST ids) are the
    // three distinct directions, never a twin pair — seeding two clusters on
    // near-identical vectors would legitimately separate the twins
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 10L),
      (2L, Seq(0.0f, 1.0f), 50L),
      (3L, Seq(-1.0f, -1.0f), 7L),       // singleton
      (11L, Seq(1.0001f, 0.0f), 30L),    // twin of 1, HIGHER quality -> survives
      (12L, Seq(0.0f, 1.0002f), 20L),    // twin of 2, lower quality -> drops
      (13L, Seq(0.7071f, 0.7071f), 9L),
      (14L, Seq(0.70717f, 0.70717f), 9L)) // equal quality -> tie to min id 13
    val df = rows.toDF("id", "vec", "q")
    val out = Dedup.semanticDedup(df, "id", "vec", "q",
        numClusters = 3, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out === Set(
      (11L, 1L, 2L, 30L),   // group of {1,11}: winner 11 (q 30 > 10)
      (2L, 2L, 2L, 50L),    // group of {2,12}: winner 2 (q 50 > 20)
      (3L, 3L, 1L, 7L),     // no twin
      (13L, 13L, 2L, 9L)))  // tie -> min id
    // determinism under a different partitioning
    val again = Dedup.semanticDedup(df.repartition(5), "id", "vec", "q",
        numClusters = 3, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(again === out)
  }

  test("semanticDedup: groups close transitively — a~b, b~c merge even when a!~c") {
    import spark.implicits._
    // unit vectors at 0°/10°/20°: cos(10°)=0.985 makes adjacent pairs,
    // cos(20°)=0.940 does NOT — the group must still merge all three
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 1L),
      (2L, Seq(0.9848f, 0.1736f), 2L),
      (3L, Seq(0.9397f, 0.3420f), 3L)).toDF("id", "vec", "q")
    val out = Dedup.semanticDedup(df, "id", "vec", "q",
        numClusters = 1, threshold = 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet === Set((3L, 1L, 3L, 3L))) // one group, best quality 3
  }

  test("semanticDedup: impossible threshold keeps everything; oversize clusters drop pairs observably") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 1L), (2L, Seq(1.0001f, 0.0f), 2L),
      (3L, Seq(0.0f, 1.0f), 3L)).toDF("id", "vec", "q")
    val all = Dedup.semanticDedup(df, "id", "vec", "q",
      numClusters = 2, threshold = 1.1)
    assert(all.count() === 3L)
    assert(all.select("n_members").collect().forall(_.getLong(0) === 1L))
    // maxCluster = 1: every cluster is oversized -> no pairs, all survive,
    // and the drop is visible through the metrics observation
    val obs = new org.apache.spark.sql.Observation("sem_drop")
    val guarded = Dedup.semanticDedup(df, "id", "vec", "q",
      numClusters = 1, threshold = 0.98, maxCluster = 1, metrics = Some(obs))
    assert(guarded.count() === 3L)
    val m = obs.get
    assert(m("n_dropped_ids").asInstanceOf[Long] === 3L)
    assert(m("max_cluster_size").asInstanceOf[Long] === 3L)
  }

  test("signature store: probe == live minHashLshAgainst; append extends the reference; no text reread") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sigstore").toString
    val store = s"$base/store"
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark catalyst optimizer internals here now"),
      (3L, "a third reference document with its own distinct vocabulary and phrasing style")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today extra"),
      (12L, "novel text sharing nothing with any accepted reference document at all thanks"),
      (13L, "completely different content about spark catalyst optimizer internals here now also")
    ).toDF("doc_id", "text")
    Dedup.buildSignatureStore(ref, "doc_id", "text", store)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStore = pairs(Dedup.minHashLshAgainstStore(
      batch, "doc_id", "text", store, threshold = 0.6))
    val live = pairs(Dedup.minHashLshAgainst(
      batch, ref, "doc_id", "text", threshold = 0.6))
    assert(viaStore === live, "store probe must equal the live batch form")
    assert(viaStore === Set((11L, 1L), (13L, 2L)))
    // jaccard values identical too (exact verify from stored hash sets)
    val jStore = Dedup.minHashLshAgainstStore(batch, "doc_id", "text", store,
      threshold = 0.6).collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    val jLive = Dedup.minHashLshAgainst(batch, ref, "doc_id", "text",
      threshold = 0.6).collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(jStore === jLive)
    // nightly admit: append a batch doc, the next batch finds it
    Dedup.appendToSignatureStore(
      Seq((12L, "novel text sharing nothing with any accepted reference document at all thanks"))
        .toDF("doc_id", "text"), "doc_id", "text", store)
    val next = Seq((21L,
      "novel text sharing nothing with any accepted reference document at all thanks more"))
      .toDF("doc_id", "text")
    assert(pairs(Dedup.minHashLshAgainstStore(next, "doc_id", "text", store,
      threshold = 0.6)) === Set((21L, 12L)), "appended doc is part of the reference")
    // and the append equals a rebuilt store over ref + the admitted doc
    val store2 = s"$base/store2"
    Dedup.buildSignatureStore(ref.unionByName(
      Seq((12L, "novel text sharing nothing with any accepted reference document at all thanks"))
        .toDF("doc_id", "text")), "doc_id", "text", store2)
    assert(pairs(Dedup.minHashLshAgainstStore(next, "doc_id", "text", store2,
      threshold = 0.6)) === Set((21L, 12L)))
    // empty batch degrades
    assert(Dedup.minHashLshAgainstStore(batch.limit(0), "doc_id", "text", store).count() === 0)
  }

  test("minHashLshAgainstStore: one call and its collect run 14 jobs") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("graft-sigstore-jobs").toString + "/store"
    Dedup.buildSignatureStore(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark catalyst optimizer internals here now")
    ).toDF("doc_id", "text"), "doc_id", "text", store)
    val batch = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today extra"),
      (12L, "novel text sharing nothing with any accepted reference document at all thanks")
    ).toDF("doc_id", "text")
    // the reference index's buckets, hashes and sizes schemas are footer
    // reads; the jobs left are the batch and candidate checkpoints and
    // the query
    val (rows, jobs) = jobsOf(
      Dedup.minHashLshAgainstStore(batch, "doc_id", "text", store, threshold = 0.6).collect())
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((11L, 1L)))
    assert(jobs === 14)
  }

  test("semanticDedupAgainst: cross-side pairs only; frozen centroids; novel batch docs pair with nothing") {
    import spark.implicits._
    val ref = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f))).toDF("id", "vec")
    val batch = Seq(
      (11L, Seq(1.0001f, 0.0f, 0.0f)),  // twin of ref 1
      (12L, Seq(1.0002f, 0.0f, 0.0f)),  // ANOTHER twin of ref 1 — and of 11
      (13L, Seq(0.0f, 1.0001f, 0.0f)),  // twin of ref 2
      (19L, Seq(0.5774f, -0.5774f, 0.5774f))).toDF("id", "vec") // novel
    val out = Dedup.semanticDedupAgainst(batch, ref, "id", "vec",
      numClusters = 3, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 11 and 12 are near-twins OF EACH OTHER but batch x batch pairs must
    // never emit — only the cross-side collisions
    assert(out === Set((11L, 1L), (12L, 1L), (13L, 2L)))
    // determinism under different partitioning
    val again = Dedup.semanticDedupAgainst(batch.repartition(5), ref.repartition(3),
      "id", "vec", numClusters = 3, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === out)
    // overlapping ids across sides stay distinguishable (separate columns)
    val overlap = Dedup.semanticDedupAgainst(
      batch.withColumn("id", col("id") - 10L), ref, "id", "vec",
      numClusters = 3, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(overlap === Set((1L, 1L), (2L, 1L), (3L, 2L)))
    // empty reference / empty batch degrade to empty with the std schema
    assert(Dedup.semanticDedupAgainst(batch, ref.limit(0), "id", "vec", 3).count() === 0)
    assert(Dedup.semanticDedupAgainst(batch.limit(0), ref, "id", "vec", 3).count() === 0)
  }

  test("semanticDedupAgainst: oversize cells drop pairs observably (batch reads as novel)") {
    import spark.implicits._
    val ref = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9999f, 0.0001f))).toDF("id", "vec")
    val batch = Seq((11L, Seq(1.0001f, 0.0f))).toDF("id", "vec")
    val obs = new org.apache.spark.sql.Observation("sem_against_drop")
    // one cell holds both ref vectors: ref occupancy 2 > maxCell 1 -> the
    // cell contributes nothing and the batch doc reads as novel
    val out = Dedup.semanticDedupAgainst(batch, ref, "id", "vec",
      numClusters = 1, threshold = 0.98, maxCell = 1, metrics = Some(obs))
    assert(out.count() === 0)
    val m = obs.get
    assert(m("n_ref_ids").asInstanceOf[Long] === 2L)
    assert(m("n_dropped_ref_ids").asInstanceOf[Long] === 2L)
    assert(m("max_cell_pairs").asInstanceOf[Long] === 2L)
  }

  test("connectedComponentsLS: equals min-label CC; geometric rounds beat diameter on a path") {
    import spark.implicits._
    // planted 40-node path 1-2-...-40 plus a separate triangle and singletons
    val n = 40
    val ids = ((1L to n.toLong) ++ Seq(100L, 101L, 102L, 999L)).toDF("id")
    val pairs = ((1L until n.toLong).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L))).toDF("a_id", "b_id")
    val (res, rounds, release) =
      Dedup.connectedComponentsLSRounds(ids, pairs, maxIterations = 15)
    val out = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to n.toLong).forall(out(_) == 1L), "the whole path collapses to 1")
    assert(Seq(100L, 101L, 102L).forall(out(_) == 100L))
    assert(out(999L) === 999L, "edge-less singleton keeps its own id")
    // the round-count claim: star contraction is geometric, min-label is
    // one hop per round — a diameter-39 path converges in far fewer rounds
    assert(rounds < 10, s"LS/SS took $rounds rounds on a 40-path (diameter 39)")
    // min-label with the SAME bound demonstrably cannot finish the path
    val cappedMinLabel = Dedup.connectedComponents(ids, pairs, maxIterations = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cappedMinLabel(n.toLong) !== 1L,
      "min-label at the LS/SS round budget must still be mid-propagation")
    release()
    // result equality with min-label CC on an irregular planted graph
    val ids2 = (1L to 30L).toDF("id")
    val pairs2 = Seq((1L, 5L), (5L, 9L), (9L, 2L), (3L, 4L), (4L, 3L),
      (7L, 7L), (11L, 12L), (12L, 13L), (13L, 11L), (20L, 29L))
      .toDF("a_id", "b_id")
    val a = Dedup.connectedComponentsLS(ids2, pairs2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.connectedComponents(ids2, pairs2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "LS/SS and min-label must agree exactly")
    // empty edge set: everything is its own cluster
    val none = Dedup.connectedComponentsLS(ids2, pairs2.limit(0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none.forall { case (k, v) => k == v })
  }

  test("connectedComponents: chains collapse to min id, singletons keep their own") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    // chain 1-2, 2-3, separate pair 4-?, none for 9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L))
  }

  test("connectedComponents: superseded iteration checkpoints are released (≤2 retained)") {
    import spark.implicits._
    // a length-9 chain forces several label-propagation iterations, each of
    // which localCheckpoints; only the edge list and the FINAL labels (which
    // the returned lazy plan reads) may stay persisted — superseded
    // iterations must not accumulate one snapshot per round
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ids = (1L to 9L).toDF("id")
    val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val out = Dedup.connectedComponents(ids, pairs)
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(retained.size <= 2,
      s"connectedComponents retained ${retained.size} checkpointed RDDs: $retained")
    assert(out.collect().map(r => r.getLong(1)).toSet === Set(1L))
  }

  test("bucketPairs: oversized buckets are dropped (cap bounds the blowup)") {
    import spark.implicits._
    // one bucket with 5 ids (cap 4 -> dropped), one with 3 (kept: 3 pairs)
    val ids = (1L to 5L).map(i => (i, "big")) ++ (10L to 12L).map(i => (i, "ok"))
    val df = ids.toDF("id", "bucketKey")
    val obs = new org.apache.spark.sql.Observation("buckets")
    val pairs = Dedup.bucketPairs(df, maxBucket = 4, Some(obs)).collect()
    assert(pairs.length == 3)
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((10L, 11L), (10L, 12L), (11L, 12L)))
    // the drop is surfaced, not silent: observed during the same action
    val m = obs.get
    assert(m("n_buckets") == 2L)
    assert(m("n_dropped_buckets") == 1L)
    assert(m("n_dropped_ids") == 5L)
  }

  test("decontaminate: bench doc fully hits itself, overlap partial, clean doc absent") {
    val bench = docsDf((100L, "alpha beta gamma delta epsilon"))
    val corpus = docsDf(
      (1L, "alpha beta gamma delta epsilon"),       // exact leak: 3/3 grams hit
      (2L, "zz alpha beta gamma yy"),               // partial: shares "alpha beta gamma"
      (3L, "totally unrelated text about spark"))   // clean: no gram shared
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (3L, 3L), "exact leak: every gram hits")
    assert(out(2L) == (1L, 3L), "partial overlap: one of three grams hits")
    assert(!out.contains(3L), "clean doc must not be flagged")
  }

  test("MinHashBandsAgg: bit-exact with the composed min(xxhash64)/band-digest form") {
    import graft.functions._
    val df = docsDf(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b"), // short doc -> whole-doc shingle
      (3L, "completely different content about catalyst optimizer internals"))
    val ex = df
      .select(col("doc_id").as("id"), tokens(col("text")).as("_toks"))
      .select(col("id"), explode(shingleHashesFromTokens(col("_toks"), 3)).as("h"))
    val composed = {
      val minCols = (0 until 8).map(i => min(xxhash64(col("h"), lit(i))).as(s"_m$i"))
      val sig = ex.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
      val bandStructs = (0 until 4).map { j =>
        val slice = (j * 2 until (j + 1) * 2).map(i => col(s"_m$i"))
        struct(lit(j).as("band"), xxhash64(array(slice: _*)).as("bucket"))
      }
      sig.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.bucket"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    val native = ex.groupBy(col("id"))
      .agg(org.apache.spark.sql.graft.MinHashBandsAgg(col("h"), 8, 4).as("_b"))
      .select(col("id"), posexplode(col("_b")).as(Seq("band", "bucket")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(native === composed)
  }

  test("dedupAgainst: drops content already in the reference, keeps new content") {
    val ref = docsDf((1L, "Seen Before"), (2L, "also known"))
    val batch = docsDf(
      (10L, "seen before  "),   // normalized match -> dropped
      (11L, "brand new text"),  // survives
      (12L, "ALSO KNOWN"))      // case-normalized match -> dropped
    val out = Dedup.dedupAgainst(batch, ref, Seq("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(11L))
    // consistency with exact(): batch-minus-ref unioned into ref has no dups
    val merged = ref.unionByName(Dedup.dedupAgainst(batch, ref, Seq("text")))
    assert(Dedup.exact(merged, Seq("text"), "doc_id")
      .agg(org.apache.spark.sql.functions.max("n_dups")).head.getLong(0) === 1L)
  }

  test("dedupSegments: first occurrence wins corpus-wide, docs reassemble in order") {
    val docs = docsDf(
      (1L, "intro one\nshared boilerplate\nbody of one"),
      (2L, "shared boilerplate\nbody of two\nshared boilerplate"),
      (3L, "shared boilerplate"), // fully deduplicated -> empty, still present
      (4L, "")) // no segments at all
    val out = Dedup.dedupSegments(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 is the earliest carrier of the boilerplate: keeps everything
    assert(out(1L) === (("intro one\nshared boilerplate\nbody of one", 3L, 3L)))
    // doc 2 loses BOTH its copies (first occurrence is doc 1's)
    assert(out(2L) === (("body of two", 3L, 1L)))
    assert(out(3L) === (("", 1L, 0L)))
    assert(out(4L) === (("", 0L, 0L)))
    // determinism under a different partitioning
    val again = Dedup.dedupSegments(docs.repartition(5), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(again === out)
  }

  test("dedupWindows: cross-doc runs at shifted offsets die; first carrier keeps all") {
    // k=4, s=2: doc 2 embeds doc 1's entire 8-token run two tokens in —
    // an offset no segment delimiter alignment would catch
    val docs = docsDf(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e f g h z"),
      (3L, "a b c d e f g h"), // full duplicate of doc 1 -> empties out
      (4L, null.asInstanceOf[String]),
      (5L, "")) // no tokens at all
    val out = Dedup.dedupWindows(docs, "doc_id", "text", windowTokens = 4, stride = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("a b c d e f g h", 8L, 8L)))
    // doc 2's windows over the shared run ([a b c d], [c d e f], [e f g h])
    // die to doc 1; survivors [x y a b] and the tail [f g h z] cover
    // indices 0-3 and 7-10 — c d e (covered only by dead windows) drop
    assert(out(2L) === (("x y a b f g h z", 11L, 8L)))
    assert(out(3L) === (("", 8L, 0L))) // fully deduplicated, never disappears
    assert(out(4L) === (("", 0L, 0L)))
    assert(out(5L) === (("", 0L, 0L)))
    // determinism under a different partitioning (arg-min is a total order)
    val again = Dedup.dedupWindows(docs.repartition(7), "doc_id", "text",
        windowTokens = 4, stride = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(again === out)
  }

  test("cdcChunks: chunks partition the token stream exactly; boundaries resync after a prefix edit") {
    import spark.implicits._
    val base = (1 to 120).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, "zzz " + base), (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text", gramSize = 4, modulus = 4)
    val byDoc = ch.collect().groupBy(_.getLong(0)).map { case (d, rs) =>
      d -> rs.sortBy(_.getInt(1)).map(r =>
        (r.getInt(1), r.getInt(2), r.getString(3)))
    }
    // PARTITION property: chunk texts joined in order reassemble the doc,
    // chunk_idx is 1..m contiguous, n_tokens sums to the doc length
    val c1 = byDoc(1L)
    assert(c1.map(_._1).toSeq === (1 to c1.length))
    assert(c1.map(_._3).mkString(" ") === base)
    assert(c1.map(_._2).sum === 120)
    assert(c1.length > 3, "modulus 4 over 120 tokens must cut several chunks")
    // tokenless docs yield no chunks
    assert(!byDoc.contains(3L) && !byDoc.contains(4L))
    // RESYNC property — the reason CDC exists: one inserted leading token
    // shifts every fixed window, but only boundaries whose 4-token window
    // contains the insertion move; chunk CONTENTS after the first boundary
    // are identical
    // only the head region (boundaries whose window overlaps the insertion,
    // plus the chunk it splits) can differ: ≤ 2 chunks each side — a fixed
    // grid would share ZERO windows after the shift
    val set1 = c1.map(_._3).toSet
    val set2 = byDoc(2L).map(_._3).toSet
    assert((set1 -- set2).size <= 2, s"original lost ${(set1 -- set2).size} chunks")
    assert((set2 -- set1).size <= 2, s"copy gained ${(set2 -- set1).size} chunks")
    assert((set1 & set2).size >= set1.size - 2)
    // partitioning invariance
    val again = Dedup.cdcChunks(docs.repartition(7), "doc_id", "text", 4, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(4))).toSet
    assert(again === ch.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getString(4))).toSet)
    // the duplicate report sees the shared chunks, hashes only
    val rep = Dedup.cdcDuplicateChunks(docs, "doc_id", "text", 4, 4)
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(rep.nonEmpty && rep.forall { case (occ, nd) => occ === 2L && nd === 2L })
  }

  test("cdcDedupAgainst: reference content found at any offset; fresh text scores zero") {
    import spark.implicits._
    val base = (1 to 120).map(i => s"w$i").mkString(" ")
    val fresh = (1 to 120).map(i => s"f$i").mkString(" ")
    val ref = Seq((1L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "zzz " + base),      // leading edit: resyncs, high dup ppm
      (11L, fresh),              // disjoint tokens: zero overlap
      (12L, fresh + " " + base)) // reference passage pasted mid-doc
      .toDF("doc_id", "text")
    val got = Dedup.cdcDedupAgainst(batch, ref, "doc_id", "text",
      gramSize = 4, modulus = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(5)))).toMap
    val (c10, d10, ppm10) = got(10L)
    assert(d10 >= c10 - 2 && ppm10 > 500000L,
      s"prefix-edited copy must resync: $d10/$c10 chunks, $ppm10 ppm")
    assert(got(11L)._2 === 0L && got(11L)._3 === 0L)
    // pasted passage: the base-content chunks after the splice boundary
    // match; the fresh half contributes zero — ppm sits strictly between
    val (_, d12, ppm12) = got(12L)
    assert(d12 > 0L && ppm12 > 200000L && ppm12 < 800000L,
      s"mid-doc paste must partially match: $d12 chunks, $ppm12 ppm")
    // determinism under repartition
    val again = Dedup.cdcDedupAgainst(batch.repartition(5), ref, "doc_id",
      "text", 4, 4).collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(again === got.map { case (k, v) => k -> v._3 })
  }

  test("dedupWindows: tail window covers every token; short docs dedup whole-doc") {
    val docs = docsDf(
      (1L, "t1 t2 t3 t4 t5 t6 t7"), // n=7, k=4, s=3: starts 0, 3 + tail 3 — all covered
      (2L, "q r"),  // shorter than the window -> one whole-doc window
      (3L, "q r"))  // duplicate short doc -> empties out
    val out = Dedup.dedupWindows(docs, "doc_id", "text", windowTokens = 4, stride = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // a doc with NO duplicated windows must reassemble losslessly even when
    // n is not a multiple of the stride (the tail window closes the gap)
    assert(out(1L) === (("t1 t2 t3 t4 t5 t6 t7", 7L, 7L)))
    assert(out(2L) === (("q r", 2L, 2L)))
    assert(out(3L) === (("", 2L, 0L)))
  }

  test("minHashLshAgainst: cross-corpus pairs only, exact jaccard, no within-side pairs") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val ref = docsDf((1L, base), (2L, "totally different reference content about catalyst optimizer internals and planning"))
    // batch docs 10/11 near-dup EACH OTHER and doc 10 near-dups ref doc 1 —
    // only the cross pair may surface
    val batch = docsDf((10L, base + " extra"), (11L, base + " other"),
      (12L, "unrelated new content concerning streaming watermarks state and triggers today"))
    val out = Dedup.minHashLshAgainst(batch, ref, "doc_id", "text", threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.keySet === Set((10L, 1L), (11L, 1L)), s"got ${out.keySet}")
    // 14-token base -> 12 shingles; +1 token batch doc shares all 12 of 13
    assert(math.abs(out((10L, 1L)) - 12.0 / 13.0) < 1e-12, "exact set Jaccard")
    // id spaces may overlap between sides: same id, different content —
    // the two sides' shingle tables must never mix
    val refSameId = docsDf((10L, "completely disjoint vocabulary here with nothing shared at all okay"))
    val out2 = Dedup.minHashLshAgainst(batch, refSameId, "doc_id", "text", threshold = 0.6)
    assert(out2.count() === 0L)
  }

  test("dedupWindowsAgainst: reference substrings kill batch windows at any offset; batch-first still applies") {
    val ref = docsDf((100L, "a b c d e f g h"))
    val batch = docsDf(
      (1L, "x y c d e f g h z w"), // embeds ref tokens c..h two tokens in
      (2L, "a b c d"),             // whole doc is a ref substring -> empties
      (3L, "p q r s"),             // not in ref: survives
      (4L, "p q r s"))             // within-batch dup of 3 -> empties
    val out = Dedup.dedupWindowsAgainst(batch, ref, "doc_id", "text",
        windowTokens = 4, stride = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1's windows [c d e f] and [e f g h] match ref 4-grams at offsets
    // no reference-side stride alignment would produce — stride-1 gram
    // enumeration catches them; e f (covered only by dead windows) drop
    assert(out(1L) === (("x y c d g h z w", 10L, 8L)))
    assert(out(2L) === (("", 4L, 0L)))
    assert(out(3L) === (("p q r s", 4L, 4L)))
    assert(out(4L) === (("", 4L, 0L)))
    assert(out.keySet === Set(1L, 2L, 3L, 4L), "reference docs never rewrite")
    val again = Dedup.dedupWindowsAgainst(batch.repartition(5), ref.repartition(3),
        "doc_id", "text", windowTokens = 4, stride = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(again === out)
  }

  test("dedupWindows: agrees with a plain-Scala reference model on random corpora") {
    // executable spec of the window-dedup semantics, independent of Spark:
    // tokenize, slide (+ tail window), corpus-wide min-(id, start) survivor,
    // reassemble from covered indices
    def refModel(docs: Seq[(Long, String)], k: Int, s: Int): Map[Long, (String, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        id -> Option(t).getOrElse("").trim.toLowerCase
          .split("\\s+").filter(_.nonEmpty).toSeq
      }.toMap
      final case class Win(id: Long, p: Int, len: Int, content: Seq[String])
      val wins = docs.flatMap { case (id, _) =>
        val tk = toks(id); val n = tk.size
        val starts =
          if (n == 0) Seq.empty[Int]
          else if (n <= k) Seq(0)
          else ((0 to n - k by s) :+ (n - k)).distinct
        starts.map(p => Win(id, p, math.min(k, n), tk.slice(p, p + math.min(k, n))))
      }
      val firsts = wins.groupBy(_.content)
        .map { case (_, ws) => ws.minBy(w => (w.id, w.p)) }.toSet
      docs.map { case (id, _) =>
        val tk = toks(id)
        val covered = firsts.filter(_.id == id)
          .flatMap(w => w.p until (w.p + w.len)).toSeq.distinct.sorted
        id -> ((covered.map(tk).mkString(" "), tk.size.toLong, covered.size.toLong))
      }.toMap
    }
    val rnd = new scala.util.Random(20260813L)
    val alphabet = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    (1 to 10).foreach { trial =>
      val k = 2 + rnd.nextInt(5) // 2..6
      val s = 1 + rnd.nextInt(k) // 1..k
      val docs = (0 until 6).map { i =>
        val n = rnd.nextInt(31) // small alphabet -> organic duplicate windows
        (i.toLong, (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
      }
      val got = Dedup.dedupWindows(docsDf(docs: _*), "doc_id", "text", k, s)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === refModel(docs, k, s), s"trial $trial k=$k s=$s docs=$docs")
    }
  }

  test("dedupWindows: rejects a stride that would leave tokens uncovered") {
    val docs = docsDf((1L, "a b c"))
    intercept[IllegalArgumentException] {
      Dedup.dedupWindows(docs, "doc_id", "text", windowTokens = 4, stride = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupWindows(docs, "doc_id", "text", windowTokens = 0, stride = 1)
    }
  }

  test("exact: multi-column content keeps column boundaries and NULL identity") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("ab"), Option("c")), // "ab"+"c"
      (2L, Option("a"), Option("bc")), // "a"+"bc" — NOT a duplicate of row 1
      (3L, Option.empty[String], Option("x")), // (NULL, "x")
      (4L, Option("x"), Option.empty[String]), // ("x", NULL) — NOT a dup of row 3
      (5L, Option("ab"), Option("c")) // true duplicate of row 1
    ).toDF("id", "t", "b")
    val out = Dedup.exact(df, Seq("t", "b"), "id")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_dups")).toMap
    assert(out === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      "boundary and NULL-position must distinguish contents")
    // dedupAgainst shares the exact key: batch rows survive unless truly equal
    val ref = Seq((9L, Option("ab"), Option("c"))).toDF("id", "t", "b")
    val kept = Dedup.dedupAgainst(df, ref, Seq("t", "b"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L))
  }

  test("stripBoilerplate: high-df segments vanish from EVERY carrier, rare ones stay everywhere") {
    val docs = docsDf(
      (1L, "unique intro\ncookie banner\nbody one\nbody one"),
      (2L, "cookie banner\nbody two"),
      (3L, "cookie banner")) // only boilerplate -> empty, still present
    val out = Dedup.stripBoilerplate(docs, "doc_id", "text", maxDocFreq = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the banner (3 docs) goes from ALL docs, including its first carrier;
    // doc 1's within-doc repeated "body one" (df=1) survives BOTH times
    assert(out(1L) === (("unique intro\nbody one\nbody one", 4L, 3L)))
    assert(out(2L) === (("body two", 2L, 1L)))
    assert(out(3L) === (("", 1L, 0L)))
    // raising the threshold above the banner's df keeps everything
    val lax = Dedup.stripBoilerplate(docs, "doc_id", "text", maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(lax === Map(1L -> 4L, 2L -> 2L, 3L -> 1L))
  }

  test("decontaminate: broadcast side is the benchmark grams") {
    val bench = docsDf((100L, "alpha beta gamma"))
    val corpus = docsDf((1L, "alpha beta gamma delta"))
    val plan = Dedup.decontaminate(corpus, bench, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  /** Reference trigram-shingle set, mirroring tokens + shinglesFromTokens. */
  private def shingleSet(text: String): Set[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).toSeq
    if (toks.isEmpty) Set.empty
    else if (toks.size >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
    else Set(toks.mkString(" "))
  }

  test("setSimilarityJoin: exact inter/union/jaccard on a hand case, threshold is a hard cut") {
    // a vs b: 12-token doc + one appended token -> 10 shared shingles of 10/11
    val a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"
    val df = docsDf((1L, a), (2L, a + " t13"), (3L, "other stuff entirely here"))
    val out = Dedup.setSimilarityJoin(df, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet === Set((1L, 2L)))
    assert(out((1L, 2L)) === ((10L, 11L, 10.0 / 11)))
    // the same pair vanishes when the threshold moves above its jaccard
    assert(Dedup.setSimilarityJoin(df, "doc_id", "text", threshold = 0.95).count() === 0L)
  }

  test("setSimilarityJoin: complete vs brute-force all-pairs (prefix+length filters lose nothing)") {
    // overlapping token windows over a shared stream produce a full spread of
    // jaccard values, plus exact twins and disjoint docs
    val stream = (1 to 60).map(i => s"w$i")
    val docs = (0 until 20).map { i =>
      (i.toLong, stream.slice(i * 2, i * 2 + 20).mkString(" "))
    } ++ Seq((100L, stream.slice(0, 20).mkString(" ")), // twin of doc 0
      (101L, "x1 x2 x3 x4 x5"), (102L, ""), (103L, "  "))
    val df = docsDf(docs: _*)
    for (t <- Seq(0.25, 0.5, 0.8, 1.0)) {
      val got = Dedup.setSimilarityJoin(df, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      val sets = docs.map { case (id, tx) => id -> shingleSet(tx) }.filter(_._2.nonEmpty)
      val want = (for {
        (ai, as) <- sets; (bi, bs) <- sets if ai < bi
        inter = (as & bs).size; union = (as | bs).size
        j = inter.toDouble / union if j >= t
      } yield (ai, bi) -> ((inter.toLong, union.toLong, j))).toMap
      assert(got === want, s"mismatch at threshold $t")
    }
  }

  test("cosineSetJoin: truncation pairs visible to cosine, invisible to jaccard; complete vs brute force") {
    // a half-document vs its original: inter = |half|, cosine =
    // sqrt(|half|/|full|) ≈ 0.71, jaccard ≈ 0.5 — the measure divergence
    val full = (1 to 24).map(i => s"t$i").mkString(" ")
    val half = (1 to 12).map(i => s"t$i").mkString(" ")
    val df = docsDf((1L, full), (2L, half), (3L, "other stuff entirely here"))
    val cos = Dedup.cosineSetJoin(df, "doc_id", "text", threshold = 0.65)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // full has 22 shingles, half has 10, all 10 shared
    assert(cos.keySet === Set((1L, 2L)))
    assert(math.abs(cos((1L, 2L)) - 10.0 / math.sqrt(22.0 * 10.0)) < 1e-12)
    assert(Dedup.setSimilarityJoin(df, "doc_id", "text", threshold = 0.65)
      .count() === 0L) // jaccard 10/22 = 0.45: the jaccard join can't see it
    // completeness vs brute-force all-pairs across thresholds
    val stream = (1 to 60).map(i => s"w$i")
    val docs = (0 until 20).map { i =>
      (i.toLong, stream.slice(i * 2, i * 2 + 20).mkString(" "))
    } ++ Seq((100L, stream.slice(0, 20).mkString(" ")),
      (101L, "x1 x2 x3 x4 x5"), (102L, ""), (103L, "  "))
    val dfa = docsDf(docs: _*)
    for (t <- Seq(0.3, 0.7, 0.9, 1.0)) {
      val got = Dedup.cosineSetJoin(dfa, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val sets = docs.map { case (id, tx) => id -> shingleSet(tx) }.filter(_._2.nonEmpty)
      val want = (for {
        (ai, as) <- sets; (bi, bs) <- sets if ai < bi
        inter = (as & bs).size
        c = inter.toDouble / math.sqrt(as.size.toDouble * bs.size) if c >= t
      } yield (ai, bi) -> ((inter.toLong, c))).toMap
      assert(got.keySet === want.keySet, s"pair-set mismatch at threshold $t")
      want.foreach { case (k, (i, c)) =>
        assert(got(k)._1 === i && math.abs(got(k)._2 - c) < 1e-12) }
    }
  }

  test("containmentJoin: quote-in-host visible only to containment; directed, complete vs brute force") {
    // a 6-token quote inside a 40-token host: containment(quote→host) = 1.0,
    // jaccard = 4/38 ≈ 0.105, cosine = 4/sqrt(4*38) ≈ 0.32 — the siblings
    // structurally cannot see it at any useful threshold
    val host = ((1 to 20).map(i => s"h$i") ++ (1 to 6).map(i => s"q$i") ++
      (21 to 34).map(i => s"h$i")).mkString(" ")
    val quote = (1 to 6).map(i => s"q$i").mkString(" ")
    val df = docsDf((1L, host), (2L, quote), (3L, "noise words only here"))
    val got = Dedup.containmentJoin(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(got.keySet === Set((2L, 1L))) // directed: quote INTO host only
    assert(got((2L, 1L)) === 1.0)
    assert(Dedup.setSimilarityJoin(df, "doc_id", "text", threshold = 0.3).count() === 0L)
    assert(Dedup.cosineSetJoin(df, "doc_id", "text", threshold = 0.5).count() === 0L)
    // completeness vs brute-force DIRECTED all-pairs across thresholds
    val stream = (1 to 60).map(i => s"w$i")
    val docs = (0 until 20).map { i =>
      (i.toLong, stream.slice(i * 2, i * 2 + 20).mkString(" "))
    } ++ Seq((100L, stream.slice(0, 20).mkString(" ")),
      (101L, stream.slice(4, 10).mkString(" ")),
      (102L, ""), (103L, "  "))
    val dfa = docsDf(docs: _*)
    for (t <- Seq(0.5, 0.8, 0.9, 1.0)) {
      val res = Dedup.containmentJoin(dfa, "doc_id", "text", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
      val sets = docs.map { case (id, tx) => id -> shingleSet(tx) }.filter(_._2.nonEmpty)
      val want = (for {
        (ai, as) <- sets; (bi, bs) <- sets if ai != bi
        inter = (as & bs).size
        c = inter.toDouble / as.size if c >= t
      } yield (ai, bi) -> ((inter.toLong, as.size.toLong, c))).toMap
      assert(res.keySet === want.keySet, s"directed pair-set mismatch at threshold $t")
      want.foreach { case (k, (i, sz, c)) =>
        assert(res(k)._1 === i && res(k)._2 === sz && math.abs(res(k)._3 - c) < 1e-12) }
    }
  }

  test("dedupWithinDoc: intra-doc repeats collapse to first occurrence, cross-doc repeats untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "intro\nbody\nbody\noutro\nbody"),
      (2L, "body\nbody"), // same segment as doc 1 — must survive here (intra only)
      (3L, ""),
      (4L, null.asInstanceOf[String]),
      (5L, "\n\nonly\n\n")) // empty segments vanish before dedup
      .toDF("doc_id", "text")
    val out = Dedup.dedupWithinDoc(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === (("intro\nbody\noutro", 5L, 3L))) // order preserved, firsts kept
    assert(out(2L) === (("body", 2L, 1L))) // doc 1 having "body" is irrelevant
    assert(out(3L) === (("", 0L, 0L)))
    assert(out(4L) === (("", 0L, 0L)))
    assert(out(5L) === (("only", 1L, 1L)))
    // scale shape: pure projection, zero exchanges
    val plan = Dedup.dedupWithinDoc(
        spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("setSimilarityJoin: shingle-less docs never pair; tiny docs use the whole-doc shingle") {
    val df = docsDf((1L, ""), (2L, "   "), (3L, "ab cd"), (4L, "ab cd"), (5L, "ab"))
    val out = Dedup.setSimilarityJoin(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 3 and 4 share their single whole-doc shingle "ab cd"; 5's "ab" differs;
    // the empty docs (no shingle set) pair with nothing, including each other
    assert(out === Set((3L, 4L)))
  }

  test("imageNearDup: re-encoded twin found at hamming 0; distinct images unpaired; corrupt drops") {
    import spark.implicits._
    val codec = Multimodal.ImageIoCodec
    // two visually unrelated images + a lossless re-encode twin of the first
    val a = codec.encodePng(40, 30, (x, y) => { val g = 4 * x; (g << 16) | (g << 8) | g })
    val b = codec.encodePng(40, 30, (x, y) => {
      val g = (x * 37 + y * 91) % 256; (g << 16) | ((255 - g) << 8) | (g * 7 % 256)
    })
    val twin = codec.resizeNearest(a, 40, 30).get
    val corrupt = a.take(25) // truncated below PNG header: undecodable
    val media = Seq((1L, a), (2L, b), (10L, twin), (99L, corrupt)).toDF("item_id", "payload")
    val pairs = Dedup.imageNearDup(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 10L, 0)), s"planted twin must pair at hamming 0: $pairs")
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L), "corrupt item appears in no pair")
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 2L)),
      "unrelated images must not pair")
  }

  test("videoNearDup: trimmed twin pairs at hamming 0; corrupt container drops; frame choice matters") {
    import spark.implicits._
    val codec = Multimodal.ImageIoCodec
    def frame(seed: Int) = codec.encodePng(24, 20, (x, y) => {
      val g = (seed + 3 * x + y) % 200; (g << 16) | (g << 8) | g
    })
    // video A: 3 frames; its trimmed twin keeps only frame 0
    val a = Multimodal.FrameContainer.encode(Seq(frame(0), frame(90), frame(150)))
    val trimmed = Multimodal.FrameContainer.encode(Seq(frame(0)))
    // unrelated video: decreasing gradient leading frame (dHash 0 vs all-ones)
    val other = Multimodal.FrameContainer.encode(Seq(
      codec.encodePng(24, 20, (x, y) => { val g = 199 - 3 * x - y; (g << 16) | (g << 8) | g })))
    val corrupt = a.take(6)
    val media = Seq((1L, a), (2L, other), (10L, trimmed), (99L, corrupt))
      .toDF("item_id", "payload")
    val pairs = Dedup.videoNearDup(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs === Set((1L, 10L, 0)),
      s"trimmed twin at hamming 0, nothing else: $pairs")
    // representative frame is CHOSEN: against frame index 1 the trimmed
    // copy has no frame and drops instead of mispairing
    val f1 = Dedup.videoNearDup(spark, media, frameIndex = 1).collect()
    assert(f1.isEmpty, "only video A has a frame 1; no pairs possible")
  }

  test("audioNearDup: re-encode identical, half-volume near, different audio far, corrupt/short drop") {
    import spark.implicits._
    val codec = Multimodal.WavCodec
    // a deterministic pseudo-noise signal, long enough for the 65 windows
    val samples = Array.tabulate(400)(i => (((i * 2731 + 17) % 30000) - 15000).toShort)
    val a = codec.encodeWav(8000, samples)
    val reenc = codec.encodeWav(8000, codec.decode(a).get.samples)
    val half = codec.encodeWav(8000, samples.map(v => (v / 2).toShort))
    val other = codec.encodeWav(8000,
      Array.tabulate(400)(i => (((i * 911 + 5) % 28000) - 14000).toShort))
    val short = codec.encodeWav(8000, Array.tabulate(40)(i => (i * 100).toShort))
    val corrupt = a.take(20)
    val media = Seq((1L, a), (2L, reenc), (3L, half), (4L, other),
      (5L, short), (99L, corrupt)).toDF("item_id", "payload")
    val fp = Multimodal.audioFingerprint(spark, media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.keySet === Set(1L, 2L, 3L, 4L), "corrupt and <65-sample streams drop")
    assert(fp(2L) === fp(1L), "re-encode is fingerprint-identical")
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 3,
      "halving the volume barely moves the envelope hash")
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 10,
      "different audio flips many bits")
    val pairs = Dedup.audioNearDup(spark, media).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("imageNearDup: hot-bucket cap bounds the blowup observably (the simHash caveat, image side)") {
    import spark.implicits._
    val codec = Multimodal.ImageIoCodec
    // ten IDENTICAL images: one shared dHash, so each of the 4 chunk buckets
    // holds all ten ids — over the cap, dropped, and the true dups are lost
    // exactly as documented (observable via the metrics, never silent). A
    // second pair of identical images stays UNDER the cap so the result
    // isn't globally empty (an all-empty plan is AQE-propagated away,
    // CollectMetrics node included — same reason the other metric specs
    // keep a survivor)
    val img = codec.encodePng(24, 24, (x, y) => { val g = 5 * x + y; (g << 16) | (g << 8) | g })
    // DECREASING gradient: dHash 0, sharing no 16-bit chunk with img's
    // all-bits dHash — its buckets stay disjoint from the hot clique's
    val other = codec.encodePng(24, 24, (x, y) => { val g = 200 - 7 * x - 3 * y; (g << 16) | (g << 8) | g })
    val media = ((1L to 10L).map(i => (i, img)) ++ Seq((20L, other), (21L, other)))
      .toDF("item_id", "payload")
    val obs = new org.apache.spark.sql.Observation("img-buckets")
    val capped = Dedup.imageNearDup(spark, media, maxBucket = 5, metrics = Some(obs)).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ===
      Set((20L, 21L, 0)), "only the under-cap twin pair survives")
    val m = obs.get
    assert(m("n_dropped_buckets") == 4L, s"all four hot chunk buckets over cap: $m")
    assert(m("n_dropped_ids") == 40L)
    // inert cap: the hot clique's 45 pairs + the twin pair, all hamming 0
    val full = Dedup.imageNearDup(spark, media, maxBucket = 100).collect()
    assert(full.length === 46 && full.forall(_.getInt(2) == 0))
  }

  // reference Levenshtein for the edit-distance-join ground truth
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def edjBrute(
      rows: Seq[(Long, String)], t: Int): Set[(Long, Long, Long)] = {
    val vals = rows.filter(_._2 != null).groupBy(_._2)
      .map { case (s, rs) => (rs.map(_._1).min, s) }.toSeq
    (for {
      (ai, as) <- vals; (bi, bs) <- vals if ai < bi
      d = lev(as, bs) if d >= 1 && d <= t
    } yield (ai, bi, d.toLong)).toSet
  }

  private def edjRun(
      df: DataFrame, t: Int, q: Int = 3): Set[(Long, Long, Long)] =
    Dedup.editDistanceJoin(df, "id", "s", maxDistance = t, q = q)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("editDistanceJoin: substitution/insertion/deletion found; identical values collapse to one representative") {
    import spark.implicits._
    val rows = Seq(
      (1L, "warehouse-north-17"), (2L, "warehouse-north-18"), // subst
      (3L, "warehouse-nortth-17"),                            // insert vs 1
      (4L, "warehouse-nort-17"),                              // delete vs 1
      (5L, "warehouse-north-17"),                             // exact dup of 1
      (6L, "completely different"), (7L, null: String))
    val got = edjRun(rows.toDF("id", "s"), t = 1)
    assert(got === edjBrute(rows, 1))
    // dist-0 identity pairs absent; id 5 never appears (1 is the min-id rep)
    assert(got.contains((1L, 2L, 1L)) && got.contains((1L, 3L, 1L)) &&
      got.contains((1L, 4L, 1L)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("editDistanceJoin: complete vs brute force across short/long strings and t=1,2") {
    import spark.implicits._
    // serial-number structure (one-digit neighbors), planted typos, short
    // codes below the prefix path's length floor, and empty strings
    val serial = (0 until 40).map(i => (i.toLong, f"unit-$i%03d"))
    val typos = Seq((100L, "unit-0077"), (101L, "unt-007"), (102L, "Unit-007"))
    val shorts = Seq((200L, "ab"), (201L, "b"), (202L, "abc"), (203L, "abcd"),
      (204L, "zz"), (205L, ""), (206L, "a"))
    val rows = serial ++ typos ++ shorts
    val df = rows.toDF("id", "s")
    for (t <- Seq(1, 2)) {
      assert(edjRun(df, t) === edjBrute(rows, t), s"t=$t")
    }
    // q=2 prefix geometry must find the identical answer
    assert(edjRun(df, 1, q = 2) === edjBrute(rows, 1))
    // partitioning invariance
    assert(edjRun(df.repartition(13), 1) === edjBrute(rows, 1))
  }
}
