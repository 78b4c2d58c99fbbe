package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Per-operator unit invariants on tiny in-memory frames plus the
  * sf0.001 testdata (SURVEY.md §5.2). The full-value differential runs
  * in the driver's DuckDB oracle gate; these pin the semantics that
  * gate can't see (schema stability, invariants, typed paths).
  */
class OperatorSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // --- pivot stability (reference fillna contract) ---------------------

  test("events pivot emits all five type columns even when types are absent") {
    val events = Seq(
      (1L, "click", 2.0),
      (1L, "view", 1.0),
      (2L, "click", 5.0))
      .toDF("user_id", "event_type", "value")
    val p = VendasMart.pivotEvents(events)
    assert(p.columns.toSeq == "user_id" +: VendasMart.EventTypes)
    val r1 = p.filter($"user_id" === 1L).head()
    assert(r1.getAs[Double]("click") == 2.0)
    assert(r1.isNullAt(p.columns.indexOf("purchase"))) // absent type -> null column
  }

  test("pivotSum equals Spark's pivot-sum row for row on generated rows") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // Types: listed, unlisted and null; "never" is listed but never
    // drawn. Amounts are quarters, so every sum is exact whatever order
    // the partial sums merge in, or null. Group 99 holds only nulls.
    val types = Seq("a", "b", "c", "never")
    val row = for {
      k <- Gen.choose(0, 7)
      t <- Gen.frequency(6 -> Gen.oneOf("a", "b", "c"), 1 -> Gen.const("z"),
        1 -> Gen.const(null: String))
      v <- Gen.option(Gen.choose(-40, 40).map(_ / 4.0))
      n <- Gen.option(Gen.choose(-5L, 5L))
    } yield (k, t, v, n)
    for (seed <- 1L to 4L) {
      val rows = Gen.listOfN(200, row).pureApply(Gen.Parameters.default, Seed(seed)) ++
        Seq((99, "a", None, None), (99, null, None, None))
      val df = rows.toDF("k", "t", "v", "n").repartition(3)
      for (value <- Seq("v", "n")) {
        val got = VendasMart.pivotSum(df, "k", "t", value, types)
        val want = df.groupBy("k").pivot("t", types).sum(value)
        assert(got.schema == want.schema, s"seed $seed, $value")
        assert(got.orderBy("k").collect().toSeq == want.orderBy("k").collect().toSeq,
          s"seed $seed, $value")
      }
    }
  }

  test("vendas mart: 0-filled money columns, no null amounts") {
    val m = VendasMart.mart(spark, sf)
    val amounts = Seq("click", "error", "purchase", "signup", "view")
      .filter(m.columns.contains)
    val withNulls = amounts.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(c))
    if (withNulls.nonEmpty) {
      val r = m.select(withNulls: _*).head()
      (0 until r.length).foreach(i => assert(r.getLong(i) == 0L))
    }
    assert(m.count() > 0)
  }

  // --- dedup invariants ------------------------------------------------

  test("exact dedup: identical texts collapse to the min doc_id") {
    val docs = Seq((10L, "same text"), (3L, "same text"), (7L, "other"))
      .toDF("doc_id", "text")
    // exact() reads from sfDir; replicate its logic on the toy frame.
    val grouped = docs.groupBy($"text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    val r = grouped.filter($"text" === "same text").head()
    assert(r.getAs[Long]("keep_id") == 3L)
    assert(r.getAs[Long]("n_copies") == 2L)
  }

  test("minhash signatures: identical texts get identical signatures") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely here now"))
      .toDF("doc_id", "text")
    val sig = Dedup.minHashSignaturesOf(docs).collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong).toSeq).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("simhash: near-identical docs land within the radius, unrelated outside") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val sig = Dedup.simHashSignaturesOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sig(1L), sig(2L)) < ham(sig(1L), sig(3L)))
  }

  test("simhash band plan: integer ladder pins, edge-recall contract at every rung") {
    import Dedup._
    // Floor regime = the historical 4 tables × 15 bits in one word,
    // bit-identical up to occupancy×2^15 = 65536 docs.
    assert(simHashBandBits(500) == 15 && simHashTables(15) == 4 && simHashWords(15) == 1)
    assert(simHashBandBits(65536) == 15)
    assert(simHashBandBits(65537) == 16)
    // The measured sf3 rung: 150k docs -> 17-bit bands, 6 tables
    // packed 3-per-word into 2 salted signature words.
    assert(simHashBandBits(150000) == 17 && simHashTables(17) == 6 && simHashWords(17) == 2)
    assert(simHashBandBits(Long.MaxValue) == SimHashMaxBandBits)
    // Edge-recall contract holds at every rung: tables are re-derived
    // so 1-(1-(1-r/60)^w)^tables >= the historical edge recall.
    val pBit = 1.0 - SimHashRadius.toDouble / SimHashBits
    (SimHashMinBandBits to SimHashMaxBandBits).foreach { w =>
      val recall = 1.0 - math.pow(1.0 - math.pow(pBit, w), simHashTables(w))
      assert(recall >= SimHashEdgeRecall,
        s"w=$w tables=${simHashTables(w)} -> edge recall $recall")
    }
    // Occupancy stays within [occ/2, occ] past the floor — the bound
    // that keeps candidate volume linear in N.
    (65537L to 500000L by 4999).foreach { n =>
      val cap = (1L << simHashBandBits(n)) * SimHashTargetOccupancy
      assert(cap >= n && (simHashBandBits(n) == SimHashMinBandBits || cap < 2 * n))
    }
  }

  test("simhash multi-word kernel: word 0 = historical signature; wide rung pairs") {
    import org.apache.spark.sql.graft.ColumnShim
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val multi = docs.select(col("doc_id"), ColumnShim.column(
        graft.expressions.SimHashMulti(
          ColumnShim.expression(col("text")), Dedup.SimHashBits, 3)).as("sims"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val single = Dedup.simHashSignaturesOf(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    single.foreach { case (id, sig) =>
      assert(multi(id).head == sig, s"word 0 of doc $id diverged from SimHash60")
      // Salted words are genuinely independent projections, not copies.
      assert(multi(id).distinct.size == 3, s"doc $id salted words collided: ${multi(id)}")
    }
    // The sf3 rung (17-bit bands, 6 tables over 2 words): the
    // near-identical pair (tiny hamming -> band-clean probability
    // ~1-2e-4 per the S-curve) must pair; everything emitted is
    // canonical and within the radius.
    val wide = Dedup.simHashPairsOf(docs, 17).collect()
    assert(wide.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
      s"17-bit rung missed the near-dup: ${wide.toSeq}")
    wide.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getAs[Int]("hamming") <= Dedup.SimHashRadius)
    }
  }

  test("simhash pairs floor rung = historical 4x15 banding (brute-force parity)") {
    // The registry path at sf0.001 (500 docs) sits on the ladder floor;
    // its output must equal a driver-side brute force of the historical
    // semantics computed from the signatures alone: candidates iff any
    // of the four 15-bit bands match, kept iff hamming <= radius.
    val sigs = Dedup.simHashSignatures(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).sortBy(_._1)
    val expected = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      (aId, aSig) = sigs(i); (bId, bSig) = sigs(j)
      if (0 until 4).exists(b =>
        ((aSig >> (b * 15)) & 0x7fff) == ((bSig >> (b * 15)) & 0x7fff))
      ham = java.lang.Long.bitCount(aSig ^ bSig)
      if ham <= Dedup.SimHashRadius
    } yield (aId, bId, ham)).toSet
    val got = Dedup.simHashPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSet
    assert(got == expected,
      s"extra=${got.diff(expected).take(5)} missing=${expected.diff(got).take(5)}")
  }

  test("dedup pairs are canonical (a_id < b_id) and thresholded") {
    val j = Dedup.ngramJaccard(spark, sf).collect()
    assert(j.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
    assert(j.forall(_.getAs[Double]("jaccard") >= Dedup.JaccardThreshold))
    val m = Dedup.minHashLsh(spark, sf).collect()
    assert(m.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
  }

  test("LSH candidates cover all high-jaccard pairs at sf0.001 (recall check)") {
    val truth = Dedup.ngramJaccard(spark, sf)
      .filter($"jaccard" >= 0.8)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLsh(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // With 4 bands of 4 rows, P(catch | j>=0.8) per band is ~0.41 — all
    // four missing is <12% per pair; the sf0.001 fixture's high-sim
    // pairs are near-identical (j≈1), where recall is ~1.
    assert(truth.subsetOf(lsh), s"missed: ${truth.diff(lsh)}")
  }

  test("banded embedding pairs: contained in exact ground truth; true near-dups found") {
    // Synthetic frame with a REAL near-dup (cosine ≈ 0.99995): the
    // banded path must find it, and everything it finds must appear in
    // the all-pairs ground truth with the identical cosine. Vector 3
    // is anti-parallel (cosine ≈ -1) — never a pair.
    val base = (0 until 64).map(j => math.sin(j + 1.0).toFloat)
    val nearDup = base.updated(0, base(0) + 0.01f)
    val anti = base.map(x => -x)
    val embs = Seq((1L, base), (2L, nearDup), (3L, anti))
      .toDF("vec_id", "embedding")
    val banded = Dedup.embeddingPairsOf(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    val exact = Dedup.embeddingPairsExactOf(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    assert(banded.contains((1L, 2L)), s"banded LSH missed the near-dup: $banded")
    assert(banded((1L, 2L)) > 0.99)
    banded.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"banded pair $k not in exact ground truth")
    }
    // And on the harness table: containment (recall there is low by
    // design — sf pairs sit at the 0.45 cosine floor, see scaladoc).
    val sfBanded = Dedup.embeddingPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    val sfExact = Dedup.embeddingPairsExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    sfBanded.foreach { case (k, c) => assert(sfExact.get(k).contains(c)) }
    // The sf3 rung of the adaptive ladder (13 planes, 6 bands) must
    // hold the same two invariants on the synthetic frame: the true
    // near-dup found, everything contained in the exact ground truth.
    val wide = Dedup.embeddingPairsOf(embs, planesPerBand = 13).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cosine")).toMap
    assert(wide.contains((1L, 2L)), s"13-plane rung missed the near-dup: $wide")
    wide.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"13-plane pair $k not in ground truth")
    }
  }

  test("first-collision-band candidate ownership emits exactly the distinct pair set") {
    // r20 rewrite guard: embeddingPairsOf now emits each candidate
    // pair only from its FIRST colliding band (duplicate-free by
    // construction) instead of a global distinct over the band join.
    // Hold the new form to the old one on frames where pairs collide
    // in MANY bands (identical vectors collide in all of them) — the
    // regime where a wrong earlier-band test would emit duplicates or,
    // inverted, drop pairs that only collide late.
    import graft.operators.Similarity
    val base = (0 until 64).map(j => math.cos(j * 0.7).toFloat)
    val twin = base.updated(3, base(3) + 0.005f)
    val embs = Seq(
      1L -> base, 2L -> base, 3L -> twin,          // all-band colliders
      4L -> base.map(x => -x),                      // anti-parallel: no pair
      5L -> (0 until 64).map(j => math.sin(3.1 * j + 0.5).toFloat)
    ).toDF("vec_id", "embedding")
    for (df <- Seq(embs, Tables.embeddings(spark, sf))) {
      val nBands = Dedup.embedBands(Dedup.EmbedPlanesPerBand)
      val banded = df.select(col("vec_id"),
        posexplode(Similarity.bandedBuckets(col("embedding"), nBands,
          Dedup.EmbedPlanesPerBand)).as(Seq("band", "bucket")))
      val oldForm = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
      // The verify stage above the candidates is a pure per-pair
      // function (join embeddings back, cosine, filter), so holding
      // the CANDIDATE sets equal holds the query outputs equal.
      val newForm = Dedup.embedCandidatesOf(df, Dedup.EmbedPlanesPerBand)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(newForm.length == newForm.distinct.length,
        s"first-collision ownership emitted duplicates: ${newForm.toSeq}")
      assert(newForm.toSet == oldForm.toSet,
        s"pair set drifted from the distinct form: " +
          s"extra=${newForm.toSet.diff(oldForm.toSet)} missing=${oldForm.toSet.diff(newForm.toSet)}")
    }
  }

  test("embed band plan: integer ladder pins, recall contract at every rung") {
    import Dedup._
    // The floor regime is the historical 4×8 layout, byte-identical to
    // the pre-adaptive engine up to occupancy×2^8 = 2048 vectors.
    assert(embedPlanes(500) == 8 && embedBands(8) == 4)
    assert(embedPlanes(2048) == 8)
    assert(embedPlanes(2049) == 9)
    // The measured sweep rungs (sf1 = 20k vecs, sf3 = 60k).
    assert(embedPlanes(20000) == 12 && embedBands(12) == 6)
    assert(embedPlanes(60000) == 13 && embedBands(13) == 6)
    // Cap: beyond 2^24 buckets × occupancy the plan stops widening.
    assert(embedPlanes(Long.MaxValue) == EmbedMaxPlanes)
    // Bucket occupancy stays within [occ/2, occ] past the floor (the
    // power-of-2 ladder can undershoot by at most 2×) — that bound is
    // what makes candidate volume O(bands·occ·N), linear in N.
    (2049L to 300000L by 997).foreach { n =>
      val cap = (1L << embedPlanes(n)) * EmbedTargetOccupancy
      assert(cap >= n && (embedPlanes(n) == EmbedMinPlanes || cap < 2 * n))
    }
    // The recall contract holds at every rung of the ladder: bands are
    // re-derived so 1-(1-(1-θ/π)^planes)^bands ≥ target.
    val pCollide = 1.0 - math.acos(EmbedContractCosine) / math.Pi
    (EmbedMinPlanes to EmbedMaxPlanes).foreach { planes =>
      val recall = 1.0 - math.pow(1.0 - math.pow(pCollide, planes), embedBands(planes))
      assert(recall >= EmbedRecallTarget,
        s"$planes planes × ${embedBands(planes)} bands -> recall $recall")
    }
  }

  test("corpus-op invariants: chunk geometry, upsample bounds, resample density") {
    import graft.operators.TextAnalysis._
    // Chunking: the final chunk is non-empty and within the window;
    // the chunk count is the tightest cover of the token run.
    chunk(spark, sf).collect().foreach { r =>
      val (nTok, nChunks, last) = (r.getAs[Long]("n_tok"),
        r.getAs[Long]("n_chunks"), r.getAs[Long]("last_chunk_tokens"))
      if (nTok == 0) assert(nChunks == 0)
      else {
        assert(last >= 1 && last <= ChunkSize)
        assert(ChunkStride * (nChunks - 1) < nTok)
        assert(nTok <= ChunkStride * (nChunks - 1) + ChunkSize)
      }
    }
    // Upsampling: per-language post-mix rows bounded by floor/ceil of
    // the weight times the doc count.
    val weights = EpochWeights.toMap
    upsample(spark, sf).collect().foreach { r =>
      val w = weights(r.getAs[String]("lang"))
      val (nDocs, nRows) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_rows_postmix"))
      assert(nRows >= math.floor(w).toLong * nDocs, r.toString)
      assert(nRows <= math.ceil(w).toLong * nDocs, r.toString)
    }
    // Resample: the filled series has no nulls, and the first row of
    // each user is never a gap (the grid starts at an observed hour).
    val rs = graft.operators.Relational.resampleFfill(spark, sf).collect()
    assert(rs.forall(!_.isNullAt(2)))
    val firstPerUser = rs.groupBy(_.getAs[Long]("user_id"))
      .map { case (_, rows) => rows.minBy(_.getAs[java.sql.Timestamp]("h").getTime) }
    assert(firstPerUser.forall(!_.getAs[Boolean]("was_gap")))
    // Contamination: every reported test doc shares at least one gram
    // with at least one train doc.
    contamination(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_train_docs") >= 1)
      assert(r.getAs[Long]("n_shared_grams") >= 1)
    }
  }

  test("intra-doc repetition ratio: degenerate loop scores high, varied text scores 0") {
    val docs = Seq(
      (1L, "en", "spam ham eggs " * 10 + "spam ham eggs"), // 11x the same 3 tokens
      (2L, "en", "one two three four five six seven"),     // all grams distinct
      (3L, "en", "too short")                              // < 3 tokens -> no grams
    ).toDF("doc_id", "lang", "text")
    val dir = tmpDir("rep")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.repetition(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 31 sliding grams, only 3 distinct rotations -> high ratio.
    assert(out(1L).getAs[Int]("n_grams_total") == 31)
    assert(out(1L).getAs[Int]("n_grams_distinct") == 3)
    assert(out(1L).getAs[Double]("rep_ratio") > 0.9)
    assert(out(2L).getAs[Double]("rep_ratio") == 0.0)
    assert(out(3L).getAs[Int]("n_grams_total") == 0)
    assert(out(3L).getAs[Double]("rep_ratio") == 0.0)
  }

  test("BPE merge candidates count occurrence-weighted adjacent pairs") {
    // "low low lower": 'lo' and 'ow' appear in all three tokens
    // (occurrence-weighted, so 3 each); 'we'/'er' only in "lower".
    val docs = Seq((1L, "en", "low low lower")).toDF("doc_id", "lang", "text")
    // Route through the registered query on a scratch corpus layout.
    val dir = tmpDir("bpe")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.bpeMerges(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("lo") == 3L)
    assert(out("ow") == 3L)
    assert(out("we") == 1L)
    assert(out("er") == 1L)
    // Total pair occurrences = sum over tokens of (len - 1).
    assert(out.values.sum == 2 + 2 + 4)
  }

  /** A path graph over ids 100..120 with the MIN id at one END, so
    * labels spread one hop per round across the full diameter 20, plus
    * a disjoint triangle to keep several components in play.
    */
  private def diameter20Chain(): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(7)
    val others = rnd.shuffle((101L to 120L).toVector)
    val pathNodes = 100L +: others // min id first -> worst-case spread
    val chain = pathNodes.sliding(2).map { p =>
      (math.min(p(0), p(1)), math.max(p(0), p(1)))
    }.toSeq
    val tri = Seq((500L, 501L), (500L, 502L), (501L, 502L))
    (chain ++ tri).toDF("a_id", "b_id")
  }

  test("label propagation converges on a diameter-20 chain, off the clique happy path") {
    // The LSH pair graph is clique unions (diameter <= ~4), so the
    // production loop never runs deep. The chain forces
    // one-hop-per-iteration propagation across the full diameter —
    // exercising the iteration guard region and the per-iteration
    // O(|E|) join shape far beyond the happy path.
    val out = Dedup.clusterPairsOf(diameter20Chain()).collect()
      .map(r => r.getAs[Long]("cluster") ->
        (r.getAs[Long]("cluster_size"), r.getAs[String]("members"))).toMap
    assert(out.keySet == Set(100L, 500L))
    assert(out(100L)._1 == 21L)
    assert(out(100L)._2 == (100L to 120L).mkString(","))
    assert(out(500L)._1 == 3L)
    // The chain genuinely ran deep: 20 hops, then one pass in which no
    // label changes confirms convergence.
    assert(Dedup.lastPropagationIters == 21,
      s"expected 20 hops plus one confirming pass, got ${Dedup.lastPropagationIters} iters")
  }

  test("label propagation on the diameter-20 chain starts 3 jobs a round") {
    // Each round computes the next labels and a `changed` flag in one
    // aggregate (its stage is one job), takes one lazy checkpoint of
    // them and runs one action that fills it and counts the changed
    // rows. Rounds after the first add the frontier's broadcast; round
    // 1 pushes every doc's id without a join. An eager checkpoint, a
    // Dataset count or a second checkpoint per round shows here as
    // more jobs.
    val jobs = jobsStarted(Dedup.clusterPairsOf(diameter20Chain()))
    assert(Dedup.lastPropagationIters == 21)
    assert(jobs == 2 + 3 * 20, s"$jobs jobs over ${Dedup.lastPropagationIters} rounds")
  }

  test("char-n-gram language ID identifies real multilingual text, including zh by script") {
    // The driver corpus's lang column carries no textual signal (one
    // shared ASCII vocabulary for every label), so the zh-capable
    // detector is proven here on genuine text per language. zh relies
    // on the Han-script profile — word lists can never fire on
    // unspaced CJK.
    val docs = Seq(
      (1L, "en", "the quick brown fox and the lazy dog are running fast in the park"),
      (2L, "fr", "le chat et le chien jouent dans le jardin pendant la nuit"),
      (3L, "de", "der hund und die katze schlafen in der schule neben der kirche"),
      (4L, "es", "el perro y el gato de la casa corren en la estación de madrid"),
      (5L, "zh", "机器学习模型在大规模语料库上训练而且效果显著提升了很多任务"),
      (6L, "und", "zzz qqq vvv")
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langIdOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L -> "en", 2L -> "fr", 3L -> "de", 4L -> "es", 5L -> "zh", 6L -> "und")
      .foreach { case (id, l) =>
        assert(out(id).getAs[String]("lang_guess") == l, s"doc $id")
        assert(out(id).getAs[Boolean]("agrees"), s"doc $id agrees")
      }
    // The zh doc is (almost) pure Han script; the latin profiles see 0.
    assert(out(5L).getAs[Double]("zh_ratio") > 0.9)
    assert(out(5L).getAs[Double]("en_ratio") == 0.0)
  }

  // --- similarity invariants -------------------------------------------

  test("brute-force top-k: k rows per query, ranks contiguous, scores non-increasing") {
    val tk = Similarity.bruteForceTopK(spark, sf)
    val byQ = tk.collect().groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to sorted.length))
      val scores = sorted.map(_.getAs[Double]("cosine")).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }

  test("LSH top-k neighbors share the query's bucket and appear in brute-force order") {
    val bf = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")) -> r.getAs[Double]("cosine"))
      .toMap
    val lsh = Similarity.lshTopK(spark, sf).collect()
    lsh.foreach { r =>
      val key = (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))
      // When an LSH neighbor is also a brute-force top-10 hit, the
      // cosine must agree exactly (same expression both paths).
      bf.get(key).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
  }

  // --- multimodal typed path -------------------------------------------

  test("decodeFeatures: deterministic stub features over the payload bytes") {
    import graft.operators.Multimodal._
    val items = Seq(
      MediaItem(1L, "hello".getBytes("UTF-8"), "text/plain", 5L),
      MediaItem(2L, Array.empty[Byte], "text/plain", 0L)).toDS()
    val f = decodeFeatures(items).collect().sortBy(_.id)
    assert(f(0).n_bytes == 5)
    assert(f(0).checksum == "hello".getBytes("UTF-8")
      .foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff)))
    assert(f(1).n_bytes == 0)
    val again = decodeFeatures(items).collect().sortBy(_.id)
    assert(f.toSeq == again.toSeq)
  }

  test("typed features path runs over sf0.001 documents") {
    val f = Multimodal.features(spark, sf)
    assert(f.count() > 0)
    assert(f.filter(x => x.width < 64 || x.width >= 128).count() == 0)
  }

  test("binaryFile source: real bytes-on-disk load with decode parity") {
    import graft.operators.Multimodal._
    // Fixtures: three real files on disk, mixed extensions.
    val dir = tmpDir("media_fixtures")
    val payloads = Map(
      "a.png" -> Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3),
      "b.txt" -> "hello media world".getBytes("UTF-8"),
      "c.bin" -> Array.tabulate(300)(i => (i % 251).toByte))
    payloads.foreach { case (name, bytes) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    // The documented production path: binaryFile schema is
    // (path, modificationTime, length, content).
    val raw = spark.read.format("binaryFile").load(dir)
    assert(raw.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    assert(raw.count() == 3)

    val frame = mediaFrameFromBinaryFiles(spark, dir)
    val byMime = frame.collect().map(r =>
      r.getAs[String]("mime") -> r.getAs[Array[Byte]]("payload")).toMap
    assert(byMime.keySet ==
      Set("image/png", "text/plain", "application/octet-stream"))
    assert(byMime("text/plain").toSeq == payloads("b.txt").toSeq)

    // Decode parity: features over the binaryFile frame equal features
    // over directly-constructed MediaItems with the same bytes — the
    // pipeline is source-agnostic.
    val viaFiles = decodeFeatures(frame.as[MediaItem]).collect()
      .map(f => f.checksum -> f).toMap
    val direct = decodeFeatures(payloads.values.zipWithIndex.map { case (b, i) =>
      MediaItem(i.toLong, b, "x", b.length.toLong) }.toSeq.toDS()).collect()
      .map(f => f.checksum -> f).toMap
    assert(viaFiles.keySet == direct.keySet)
    viaFiles.foreach { case (k, f) =>
      val d = direct(k)
      assert((f.n_bytes, f.width, f.height, f.n_frames) ==
        (d.n_bytes, d.width, d.height, d.n_frames))
    }
  }

  test("approx stats self-audit: verdict booleans true, exact twins recount") {
    // r10: the query no longer emits raw sketch values (they are
    // engine-specific and would break the hash differential); it emits
    // deterministic exact twins plus boolean verdicts computed in-plan
    // (HLL within 2x its 2% rsd of the exact distinct; GK median
    // inside the exact [p0.495, p0.505] value band). The spec asserts
    // every verdict holds and independently recounts the exact twins.
    val rows = Analytics.approxStats(spark, sf).collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf)
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      assert(r.getAs[Boolean]("distinct_ok"), s"$flag: HLL breached 2x rsd")
      assert(r.getAs[Boolean]("median_ok"), s"$flag: GK median outside band")
      val lo = r.getAs[Double]("median_lo")
      val hi = r.getAs[Double]("median_hi")
      assert(lo <= hi, s"$flag: degenerate band [$lo, $hi]")
      val g = li.filter(col("l_returnflag") === flag)
      assert(r.getAs[Long]("n_rows") == g.count(), s"$flag: n_rows")
      val exact = g.select(countDistinct(col("l_orderkey"))).head().getLong(0)
      assert(r.getAs[Long]("exact_orders") == exact, s"$flag: exact_orders")
    }
  }

  test("jaccard ladder: prefix-filtered and plain forms emit identical pairs") {
    import graft.functions.TextFns.shingleSet
    // The two rungs of the ngramJaccard ladder must agree exactly —
    // prefix filtering is provably lossless (pigeonhole on the overlap
    // bound), so any divergence is a bug in one formulation.
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val sizes = docs.select($"doc_id", size(shingleSet($"text", 3)).cast("long").as("n"))
    val ex = Dedup.shingleIndexOf(docs)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cap = Some(Dedup.MaxShingleDf)
    val plain = canon(Dedup.ngramJaccardPlainOf(ex, sizes, cap))
    assert(plain.nonEmpty, "fixture corpus must contain near-dup pairs")
    assert(canon(Dedup.ngramJaccardOf(ex, cap)) == plain)
    // And the hinted verify-join shape used past the 100k-doc rung:
    assert(canon(Dedup.jaccardFromRanked(Dedup.rankedOf(ex, cap),
      hashVerify = true)) == plain)
  }

  test("jaccard positional filter: boundary pair at the exact overlap bound survives") {
    import graft.functions.TextFns.shingleSet
    // Crafted corpus stressing the PPJoin positional filter's equality
    // edge. Three docs A/B/C share an 8-token run (6 shared grams) and
    // differ in a 2-token lead (2 unshared grams each); fillers give
    // each lead gram df = 2 so the df ≥ 2 filter keeps it, while the
    // shared grams read df = 3 — so every doc's (df ASC, g60) ranking
    // puts both unshared grams BEFORE all shared ones, and each pair's
    // first match sits at rank 3 of kept size 8. There the filter's
    // bound is exactly tight: 8·(1 + min(8−3, 8−3)) = 48 = 3·(8+8),
    // and J = 6/(8+8−6) = 0.6 — on-threshold. A strict inequality (or
    // any off-by-one in the rank arithmetic) would silently drop all
    // three true pairs; their rank-4 match rows are legitimately
    // filtered, so survival rides on the boundary row alone.
    val srun = "s1 s2 s3 s4 s5 s6 s7 s8"
    val crafted = Seq(
      (1L, s"a1 a2 $srun"), (2L, s"b1 b2 $srun"), (3L, s"c1 c2 $srun"),
      (4L, "a1 a2 s1 s2 za zb zc zd"),
      (5L, "b1 b2 s1 s2 zb zc zd ze"),
      (6L, "c1 c2 s1 s2 zc zd ze zf")).toDF("doc_id", "text")
    val sizes = crafted.select($"doc_id", size(shingleSet($"text", 3)).cast("long").as("n"))
    val ex = Dedup.shingleIndexOf(crafted)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cap = Some(Dedup.MaxShingleDf)
    val prefixed = canon(Dedup.jaccardFromRanked(Dedup.rankedOf(ex, cap),
      hashVerify = false))
    assert(prefixed((1L, 2L)) == 0.6)
    assert(prefixed((1L, 3L)) == 0.6)
    assert(prefixed((2L, 3L)) == 0.6)
    assert(prefixed == canon(Dedup.ngramJaccardPlainOf(ex, sizes, cap)))
  }

  test("jaccard candidate semantics: gapped-match pair is kept by the per-row bound, killed by verify") {
    // Pins the SHIPPED candidate semantics at the exact shape where
    // the r16-rejected accumulated ubound (Xiao WWW'08 §3.2) differed:
    // a false pair whose prefix matches are SPREAD OUT. Synthesized
    // directly as a postings frame so gram order is controlled
    // numerically (every gram df = 2, so the global (df ASC, g60)
    // order is just g60). Docs A (grams 1..10) and B (3, 5, 11, 12,
    // 14, 16..20) share exactly {3, 5}: kept sizes ka = kb = 10,
    // prefix length 10 − (34 DIV 5) + 1 = 5, matches at ranks (3, 1)
    // and (5, 2). The per-row positional test at the first match reads
    // 8·(1 + min(7, 9)) = 64 ≥ 60 = 3·(10+10) → the pair IS a
    // candidate; the accumulated bound 8·(2 + min(10−5, 10−2)) =
    // 56 < 60 would have pruned it — that form was measured (3.4%
    // extra pruning at sf10 for a 4.5 → 23.3 GB sf30 spill balloon,
    // bench_sf30_jacc{Old,}_r16.json) and REJECTED; this test fails
    // loudly if either form silently replaces the other. The false
    // pair then dies in exact verify: J = 2/18 < 0.6, empty output.
    // Every unshared gram is echoed by a single-gram filler doc to
    // reach df = 2; filler pairs die in the length filter (3·10 > 5·1).
    val aGrams = (1L to 10L).map((1L, _))
    val bSet = Seq(3L, 5L, 11L, 12L, 14L, 16L, 17L, 18L, 19L, 20L)
    val bGrams = bSet.map((2L, _))
    val unshared = ((1L to 10L) ++ bSet).filterNot(g => g == 3L || g == 5L)
    val fillers = unshared.map(g => (100L + g, g))
    val ex = (aGrams ++ bGrams ++ fillers).toDF("doc_id", "g60")
    val cand = Dedup.jaccardCandidatesOf(Dedup.rankedOf(ex, None))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)),
      s"gapped pair must survive the per-row positional bound; candidates: $cand")
    // And the kept candidate is genuinely false — exact verify emits
    // nothing, in parity with the plain form.
    val sizes = ex.groupBy($"doc_id").agg(count(lit(1)).cast("long").as("n"))
    val plain = Dedup.ngramJaccardPlainOf(ex, sizes, None).collect()
    val prefix = Dedup.jaccardFromRanked(Dedup.rankedOf(ex, None), hashVerify = false).collect()
    assert(plain.isEmpty && prefix.isEmpty)
  }

  test("jaccard df-cap: recall-neutral on the test corpus, binds on stopword grams") {
    import graft.functions.TextFns.shingleSet
    def pairsOf(docs: org.apache.spark.sql.DataFrame, cap: Option[Int]) = {
      val sizes = docs.select($"doc_id", size(shingleSet($"text", 3)).cast("long").as("n"))
      Dedup.ngramJaccardOf(Dedup.shingleIndexOf(docs), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    }
    // Parity: at test scale every df is far below the cap, so the
    // capped production pipeline must emit bit-identical pairs/scores
    // to the uncapped exact form.
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    assert(pairsOf(corpus, Some(Dedup.MaxShingleDf)) == pairsOf(corpus, None))

    // Crafted corpus where one gram ("a b c") has df = 132 > cap:
    // 130 filler docs carry it in distinct contexts, and two identical
    // docs share it plus four unique grams. The cap must drop ONLY the
    // stopword gram from the numerator: uncapped jaccard 1.0 vs capped
    // 4/(5+5-4) = 0.6667 — pair retained, score provably capped.
    val filler = (0 until 130).map(i => (i.toLong, s"a b c f$i g$i"))
    val twins = Seq((1000L, "a b c p q r s"), (1001L, "a b c p q r s"))
    val crafted = (filler ++ twins).toDF("doc_id", "text")
    val capped = pairsOf(crafted, Some(Dedup.MaxShingleDf))
    val uncapped = pairsOf(crafted, None)
    assert(uncapped((1000L, 1001L)) == 1.0)
    assert(capped((1000L, 1001L)) == 0.6667)
    assert(capped.keySet == uncapped.keySet)
  }

  test("real PNG bytes decode to true dimensions via javax.imageio") {
    import graft.operators.Multimodal._
    // Real fixtures: ImageIO-encoded PNGs at asymmetric sizes (so a
    // width/height swap would fail), written to disk and loaded back
    // through the production binaryFile path.
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val dir = tmpDir("png_fixtures")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.png"), png(37, 23))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.png"), png(128, 5))
    // Truncated PNG: magic bytes intact, body gone — must fall back to
    // the stub, not throw.
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "corrupt.png"),
      png(10, 10).take(12))

    val feats = decodeFeatures(mediaFrameFromBinaryFiles(spark, dir).as[MediaItem])
      .collect().map(f => f.n_bytes -> f).toMap
    val a = feats(png(37, 23).length)
    assert((a.width, a.height, a.n_frames) == (37, 23, 1))
    val b = feats(png(128, 5).length)
    assert((b.width, b.height, b.n_frames) == (128, 5, 1))
    val c = feats(12)
    val (sw, sh, sfr) = Decoder.stub(png(10, 10).take(12))
    assert((c.width, c.height, c.n_frames) == (sw, sh, sfr))
    // Non-image payloads still take the deterministic stub path.
    assert(!Decoder.isImage("plain text".getBytes("UTF-8")))
  }

  test("decompression bomb: huge declared dims degrade to stub without allocating") {
    import graft.operators.Multimodal._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // Craft a bomb: valid 10x10 PNG whose IHDR DECLARES 60000x60000
    // (3.6 GPix ≈ 14 GB ARGB) — the shape that makes a naive
    // ImageIO.read allocate the raster before any decode error. Patch
    // width/height (big-endian at offsets 16/20) and re-stamp the
    // IHDR CRC so the header itself parses cleanly.
    val bomb = png(10, 10)
    val bb = java.nio.ByteBuffer.wrap(bomb)
    bb.putInt(16, 60000)
    bb.putInt(20, 60000)
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 17) // "IHDR" tag + 13 data bytes
    bb.putInt(29, crc.getValue.toInt)
    assert(Decoder.isImage(bomb))
    assert(Decoder.decode(bomb) == Decoder.stub(bomb))
    // The guard must not tax honest images: a sane PNG still reports
    // true pixel dimensions through the full-decode path.
    assert(Decoder.decode(png(37, 23)) == ((37, 23, 1)))
  }

  /** Deterministic WAV fixture: 16-bit mono PCM, encoded by the JDK's
    * own writer so the bytes are a real RIFF/WAVE container.
    */
  private def wavFixture(rateHz: Int, channels: Int, frames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rateHz.toFloat, 16, channels, true, false)
    val pcm = Array.tabulate(frames * channels * 2)(i => (i * 37 % 251).toByte)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("real WAV bytes decode to true sample-rate/channels/duration via javax.sound") {
    import graft.operators.Multimodal._
    // 8 kHz mono, 4000 frames -> exactly 500 ms.
    val wav = wavFixture(8000, 1, 4000)
    assert(Decoder.isWav(wav) && !Decoder.isImage(wav))
    assert(Decoder.decodeWav(wav).contains((8000, 1, 4000, 500L)))
    // Stereo at a different rate: channel count and duration rescale.
    val stereo = wavFixture(16000, 2, 8000)
    assert(Decoder.decodeWav(stereo).contains((16000, 2, 8000, 500L)))
    // Truncated container (signature intact, fmt chunk gone) must
    // degrade to the stub, not throw.
    val truncated = wav.take(16)
    assert(Decoder.isWav(truncated))
    assert(Decoder.decodeWav(truncated).isEmpty)

    // End-to-end through the typed decode path: the audio branch
    // reports real features, the truncated payload takes the stub.
    val feats = decodeFeatures(Seq(
      MediaItem(1L, wav, "audio/wav", wav.length.toLong),
      MediaItem(2L, truncated, "audio/wav", 16L)).toDS())
      .collect().map(f => f.id -> f).toMap
    val a = feats(1L)
    assert((a.kind, a.sample_rate_hz, a.channels, a.n_frames, a.duration_ms) ==
      (("audio", 8000, 1, 4000, 500L)))
    val t = feats(2L)
    val (sw, sh, sfr) = Decoder.stub(truncated)
    assert((t.kind, t.width, t.height, t.n_frames) == (("other", sw, sh, sfr)))
    assert((t.sample_rate_hz, t.channels, t.duration_ms) == ((0, 0, 0L)))
  }

  /** Minimal conforming ISO-BMFF fixture built box-by-box: ftyp +
    * moov(mvhd, trak(tkhd, mdia(hdlr, minf(stbl(stts))))). Sizes are
    * computed innermost-out so the walker exercises real box
    * arithmetic, not hand-tuned constants.
    */
  private def mp4Fixture(w: Int, h: Int, handler: String, timescale: Int,
      duration: Int, sttsCounts: Seq[Int],
      mvhdLast: Boolean = false): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      bb.array()
    }
    def be(vs: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(bb.putInt); bb.array()
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0x200) ++
      "isomiso2".getBytes("US-ASCII"))
    // mvhd v0: ver/flags, creation, modification, timescale, duration.
    val mvhd = box("mvhd", be(0, 0, 0, timescale, duration) ++ new Array[Byte](80))
    // tkhd v0: ver/flags + 5 u32 + 16 reserved + 36 matrix + w/h 16.16.
    val tkhd = box("tkhd", be(0, 0, 0, 1, 0, 0) ++ new Array[Byte](52) ++
      be(w << 16, h << 16))
    val hdlr = box("hdlr", be(0, 0) ++ handler.getBytes("US-ASCII") ++
      new Array[Byte](13))
    val stts = box("stts", be(0, sttsCounts.length) ++
      be(sttsCounts.flatMap(c => Seq(c, 512)): _*))
    val trak = box("trak", tkhd ++ box("mdia", hdlr ++ box("minf", box("stbl", stts))))
    val moov = if (mvhdLast) trak ++ mvhd else mvhd ++ trak
    ftyp ++ box("moov", moov) ++ box("mdat", new Array[Byte](32))
  }

  test("real MP4 container headers parse to true dims/frames/duration") {
    import graft.operators.Multimodal._
    // 320x240, movie timescale 1000 & duration 2500 -> 2500 ms; two
    // stts runs of 50 + 25 samples -> 75 frames.
    val mp4 = mp4Fixture(320, 240, "vide", 1000, 2500, Seq(50, 25))
    assert(Decoder.isMp4(mp4) && !Decoder.isImage(mp4) && !Decoder.isWav(mp4))
    assert(Decoder.decodeMp4(mp4).contains((320, 240, 75, 2500L)))
    // Sound-handler track must NOT be reported as video.
    val audioOnly = mp4Fixture(0, 0, "soun", 1000, 2500, Seq(50))
    assert(Decoder.decodeMp4(audioOnly).isEmpty)
    // Box order inside moov is not mandated: some muxers write mvhd
    // AFTER the traks — the walk must not abort at the first video
    // trak and lose the timescale.
    val mvhdLast = mp4Fixture(320, 240, "vide", 1000, 2500, Seq(50, 25),
      mvhdLast = true)
    assert(Decoder.decodeMp4(mvhdLast).contains((320, 240, 75, 2500L)))
    // All-ones duration is the spec's "unknown" sentinel, not ~49.7
    // real-looking days.
    val unknownDur = mp4Fixture(320, 240, "vide", 1000, -1, Seq(50))
    assert(Decoder.decodeMp4(unknownDur).isEmpty)
    // Truncation anywhere inside the header tree (ftyp+moov): never
    // throws, returns None (the walker's bounds checks, not caller
    // catches, do the work). Past the moov end only sample DATA is
    // missing, and the header-only parse legitimately still succeeds —
    // that boundary is asserted too.
    val headerLen = mp4.length - 40 // trailing mdat box = 8B header + 32B
    (0 until headerLen by 7).foreach { n =>
      assert(Decoder.decodeMp4(mp4.take(n)).isEmpty, s"prefix $n")
    }
    assert(Decoder.decodeMp4(mp4.take(headerLen)).contains((320, 240, 75, 2500L)))
    // End-to-end: the typed decode path reports kind=video with real
    // features; zeroed audio fields.
    val feats = decodeFeatures(Seq(
      MediaItem(1L, mp4, "video/mp4", mp4.length.toLong)).toDS()).collect().head
    assert((feats.kind, feats.width, feats.height, feats.n_frames, feats.duration_ms) ==
      (("video", 320, 240, 75, 2500L)))
    assert((feats.sample_rate_hz, feats.channels) == ((0, 0)))
  }

  test("MP4 walker: adversarial largesize cannot wrap the bounds check") {
    import graft.operators.Multimodal._
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      bb.array()
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ new Array[Byte](8))
    // size field = 1 selects the 64-bit largesize; a value near
    // Long.MaxValue makes `off + size` wrap negative — a naive
    // `off + size > end` guard passes and the walk loops forever
    // through 0 -> 24 -> Long.MinValue -> 0. Must return None, fast.
    def evil(largesize: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(1).put("free".getBytes("US-ASCII")).putLong(largesize)
      ftyp ++ bb.array()
    }
    assert(Decoder.decodeMp4(evil(Long.MaxValue)).isEmpty)
    assert(Decoder.decodeMp4(evil(Long.MinValue)).isEmpty)
    assert(Decoder.decodeMp4(evil(java.lang.Long.MAX_VALUE - 24)).isEmpty)
    assert(Decoder.decodeMp4(evil(-1L)).isEmpty)
  }

  test("MP4 mvhd v1: 0xFFFFFFFF ticks is a legitimate 64-bit duration") {
    import graft.operators.Multimodal._
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      bb.array()
    }
    def be(vs: Int*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(bb.putInt); bb.array()
    }
    // mvhd v1: ver(1=<<24)/flags, creation(8), modification(8),
    // timescale u32 @20, duration u64 @24. 2^32-1 ticks at timescale
    // 1e6 is ~71.6 real minutes — the v0 unknown sentinel must not
    // apply to it. True 64-bit all-ones (= -1) stays unknown.
    def v1Fixture(durHi: Int, durLo: Int): Array[Byte] = {
      val mvhd = box("mvhd", be(1 << 24, 0, 0, 0, 0, 1000000, durHi, durLo) ++
        new Array[Byte](80))
      val tkhd = box("tkhd", be(1 << 24, 0, 0, 0, 1, 0, 0, 0) ++
        new Array[Byte](56) ++ be(320 << 16, 240 << 16))
      val hdlr = box("hdlr", be(0, 0) ++ "vide".getBytes("US-ASCII") ++
        new Array[Byte](13))
      val stts = box("stts", be(0, 1, 10, 512))
      val trak = box("trak", tkhd ++ box("mdia", hdlr ++ box("minf", box("stbl", stts))))
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be(0x200))
      ftyp ++ box("moov", mvhd ++ trak)
    }
    assert(Decoder.decodeMp4(v1Fixture(0, -1)) // duration = 0xFFFFFFFF ticks
      .contains((320, 240, 10, 4294967295L * 1000 / 1000000)))
    assert(Decoder.decodeMp4(v1Fixture(-1, -1)).isEmpty) // 64-bit all-ones: unknown
  }

  test("resize is a real raster scale for images, the byte stub otherwise") {
    import graft.operators.Multimodal._
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val items = Seq(
      MediaItem(1L, png(40, 20), "image/png", 0L),
      MediaItem(2L, "just text, no codec".getBytes("UTF-8"), "text/plain", 19L)).toDS()
    val rs = resize(items, 8, 4).collect().sortBy(_.id).toSeq
    assert(rs.map(r => (r.width, r.height)) == Seq((8, 4), (8, 4)))
    // Image payload: output is a REAL re-encoded image whose decoded
    // dimensions are exactly the requested raster.
    val out = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(rs.head.payload))
    assert(out != null && (out.getWidth, out.getHeight) == ((8, 4)))
    // Non-image payload keeps the deterministic truncate/pad stub.
    assert(rs(1).payload.length == 8 * 4)
    // Deterministic: same input, same bytes.
    val again = resize(items, 8, 4).collect().sortBy(_.id)
    assert(rs.head.payload.toSeq == again.head.payload.toSeq)
  }

  test("embed reads pixel space for images: PNG and BMP of one raster embed identically") {
    import graft.operators.Multimodal._
    val img = new java.awt.image.BufferedImage(
      32, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 32).foreach(x => (0 until 16).foreach(y =>
      img.setRGB(x, y, (x * 97 + y * 13) & 0xffffff)))
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val pngB = enc("png"); val bmpB = enc("bmp")
    assert(pngB.toSeq != bmpB.toSeq) // genuinely different bytes...
    val es = embed(Seq(
      MediaItem(1L, pngB, "image/png", 0L),
      MediaItem(2L, bmpB, "image/bmp", 0L)).toDS())
      .collect().map(e => e.id -> e.embedding.toSeq).toMap
    // ...but identical decoded pixels => identical embeddings, which
    // the old byte-bucket histogram could not deliver.
    assert(es(1L) == es(2L))
    assert(math.abs(es(1L).sum - 1f) < 1e-5)
  }

  test("embed histogram survives >2^24 pixels in one luminance bucket") {
    import graft.operators.Multimodal._
    // 5000x4000 uniform image: 20M pixels land in ONE bucket — past
    // 2^24 a Float accumulator's += 1f becomes a no-op (ULP > 1) and
    // the L1 norm silently drops below 1. The Long accumulator must
    // keep the histogram exactly normalized. Uniform content keeps
    // the PNG payload tiny; only the decoded raster is large.
    val w = 5000; val h = 4000
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try { g.setColor(java.awt.Color.WHITE); g.fillRect(0, 0, w, h) }
    finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val e = embed(Seq(MediaItem(1L, bos.toByteArray, "image/png", 0L)).toDS())
      .collect().head.embedding
    // All mass in the top-luminance bucket, norm exactly 1.
    assert(math.abs(e.sum - 1f) < 1e-6, s"L1 norm drifted: ${e.sum}")
    assert(e.last == 1f && e.init.forall(_ == 0f), e.toSeq.toString)
  }

  // --- as-of join ------------------------------------------------------

  test("as-of join: latest right row at-or-before, inclusive, tie-broken") {
    val quotes = Seq( // (key, t, px, qid)
      ("A", 10, 1.0, 1L), ("A", 20, 2.0, 2L),
      ("A", 20, 3.0, 3L), // same (key, t): highest tie-break wins
      ("B", 15, 9.0, 4L))
      .toDF("k", "t", "px", "qid")
    val trades = Seq(("A", 5), ("A", 20), ("A", 25), ("B", 14), ("C", 99))
      .toDF("k", "t")
    val res = AsOfJoin.leftAsOf(trades, "k", "t", quotes, "k", "t",
      Seq("px", "qid"), "qid")
      .orderBy("k", "t").collect()
    // A@5: no quote yet -> null
    assert(res(0).isNullAt(2))
    // A@20: inclusive match; tie between qid 2 and 3 -> qid 3 wins
    assert(res(1).getAs[Double]("px") == 3.0)
    // A@25: still the latest (t=20, qid=3)
    assert(res(2).getAs[Long]("qid") == 3L)
    // B@14: quote at 15 is later -> null
    assert(res(3).isNullAt(2))
    // C: key absent from right -> null, row preserved (left semantics)
    assert(res(4).isNullAt(2))
  }

  test("as-of join matches a brute-force reference on seeded random data") {
    val rnd = new scala.util.Random(97)
    val keys = Seq("A", "B", "C", "D")
    val quotes = (1L to 300L).map(i =>
      (keys(rnd.nextInt(keys.length)), rnd.nextInt(50), rnd.nextInt(1000) / 10.0, i))
    val trades = (1 to 200).map(_ => (keys(rnd.nextInt(keys.length + 1) % keys.length),
      rnd.nextInt(60)))
    val res = AsOfJoin.leftAsOf(trades.toDF("k", "t"), "k", "t",
      quotes.toDF("k", "t", "px", "qid"), "k", "t", Seq("px", "qid"), "qid")
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Int]("t")) ->
        (if (r.isNullAt(r.fieldIndex("qid"))) None else Some(r.getAs[Long]("qid"))))
      .toMap
    // Brute force: latest quote at-or-before, highest qid breaks ties.
    trades.distinct.foreach { case (k, t) =>
      val expect = quotes.filter(q => q._1 == k && q._2 <= t)
        .sortBy(q => (q._2, q._4)).lastOption.map(_._4)
      assert(res((k, t)) == expect, s"key=$k t=$t")
    }
    // Row preservation: every trade appears exactly once per distinct row.
    assert(res.size == trades.distinct.size)
  }

  // --- bounded top-k aggregator ---------------------------------------

  test("TopK aggregator: bounded, deterministic ties, merge-safe") {
    import graft.functions.TopK
    val agg = new TopK.TopKAgg(3)
    val items = Seq(
      TopK.ScoredId(0.5, 7), TopK.ScoredId(0.9, 2), TopK.ScoredId(0.9, 1),
      TopK.ScoredId(0.1, 9), TopK.ScoredId(0.7, 4), TopK.ScoredId(0.9, 3))
    // Feed through two partial buffers then merge (the shuffle shape).
    val (l, r) = items.splitAt(2)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    val top = agg.finish(merged)
    // score desc, id asc on ties: (0.9,1), (0.9,2), (0.9,3)
    assert(top == Seq(TopK.ScoredId(0.9, 1), TopK.ScoredId(0.9, 2), TopK.ScoredId(0.9, 3)))
    // Order of arrival must not matter.
    val rev = agg.finish(items.reverse.foldLeft(agg.zero)(agg.reduce))
    assert(rev == top)
  }

  test("TopK aggregator query equals the window formulation") {
    val win = Similarity.bruteForceTopK(spark, sf).collect().toSeq
    val agg = Similarity.topKAgg(spark, sf).collect().toSeq
    assert(win.map(_.toSeq) == agg.map(_.toSeq))
  }

  // --- binaryFile source (multimodal at-rest layout) -------------------

  test("binaryFile source: one row per object with payload bytes + metadata") {
    val dir = tmpDir("media")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.bin"),
      Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.bin"),
      "media-payload".getBytes("UTF-8"))
    val df = spark.read.format("binaryFile").load(dir)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val rows = df.orderBy("path").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("length") == 4L)
    assert(rows(0).getAs[Array[Byte]]("content").toSeq == Seq[Byte](1, 2, 3, 4))
  }

  // --- property-style invariants (SURVEY.md §5.4) -----------------------

  test("pivot invariant: row-wise sum of pivoted columns equals the group sum") {
    val rnd = new scala.util.Random(5)
    val types = VendasMart.EventTypes
    val events = (1 to 400).map { _ =>
      (rnd.nextInt(20).toLong, types(rnd.nextInt(types.length)), rnd.nextInt(100) / 10.0)
    }.toDF("user_id", "event_type", "value")
    val pivotTotals = VendasMart.pivotEvents(events)
      .na.fill(0.0, types)
      .select(col("user_id"), types.map(col).reduce(_ + _).as("total"))
      .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e6)).toMap
    val groupTotals = events.groupBy("user_id").agg(sum("value").as("total"))
      .collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e6)).toMap
    assert(pivotTotals == groupTotals)
  }

  test("union-by-name preserves row counts and aligns drifting columns") {
    val a = Seq((1L, "x")).toDF("id", "name")
    val b = Seq(("y", 2L)).toDF("name", "id") // reordered
    val c = Seq(3L).toDF("id")                // missing column
    val u = a.unionByName(b, allowMissingColumns = true)
      .unionByName(c, allowMissingColumns = true)
    assert(u.count() == 3)
    val rows = u.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(2).isNullAt(1))
  }

  test("multimodal resize/embed stubs: shape contracts hold") {
    import graft.operators.Multimodal._
    val items = Seq(
      MediaItem(1L, (0 until 100).map(_.toByte).toArray, "image/x-fake", 100L),
      MediaItem(2L, Array[Byte](5, 5, 5), "image/x-fake", 3L)).toDS()
    val rs = resize(items, 8, 4).collect().sortBy(_.id)
    assert(rs.forall(r => r.payload.length == 32 && r.width == 8 && r.height == 4))
    val es = embed(items).collect().sortBy(_.id)
    assert(es.forall(_.embedding.length == 16))
    // L1-normalized histogram sums to ~1 for non-empty payloads.
    assert(math.abs(es(0).embedding.sum - 1f) < 1e-5)
    // Deterministic: same input, same vector.
    val again = embed(items).collect().sortBy(_.id)
    assert(es.map(_.embedding.toSeq).toSeq == again.map(_.embedding.toSeq).toSeq)
  }

  test("near-dup clustering groups transitive LSH pairs to the min doc_id") {
    // Three exact-duplicate families -> identical signatures -> LSH
    // pairs within each family; plus one loner. Transitivity: 1-2 and
    // 2-9 pair, so {1,2,9} must share cluster 1 even if 1-9 never met.
    val dir = tmpDir("toydocs")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (9L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six seven"),
      (7L, "lonely document with unique words entirely"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clusters = Dedup.nearDupClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("cluster") -> r.getAs[String]("members")).toMap
    assert(clusters(1L) == "1,2,9")
    assert(clusters(3L) == "3,4")
    assert(!clusters.contains(7L)) // loner: no pairs, not in the graph
  }

  test("incremental dedup flags exact and near-dup newcomers, admits novel docs") {
    val dir = tmpDir("incdocs")
    val corpusText = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (10L, corpusText),                                   // corpus
      (11L, "one two three four five six seven eight"),    // corpus
      (250L, corpusText),                                  // exact dup of 10
      // Superset text: keeps every corpus shingle (jaccard 6/8) so at
      // least one band key is extremely likely to survive; the fixed
      // strings make the outcome deterministic run-to-run.
      (251L, corpusText + " iota kappa"),                  // near-dup of 10
      (252L, "completely novel words appearing nowhere else at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val res = Dedup.incremental(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(res(250L))      // exact hit
    assert(res(251L))      // near hit: shares band buckets + >=8/16 slots
    assert(!res(252L))     // novel -> admitted
    assert(res.size == 3)  // corpus rows never appear in the decision
  }

  test("index residency priority: demote fewest-reads-first, larger-first among equals") {
    // The r17 lever's decision kernel: demoting frees `bytes` and
    // costs `reads × bytes` of disk re-reads per sweep, so cost per
    // freed byte = reads. Since r18 the byte input is the build-time
    // MEMORY-resident size (heap the demotion actually frees); at the
    // measured sf50 frame shape every frame was fully memory-resident
    // at build, so the pinned tuples are unchanged. Frames in build
    // order: once-read postings built BEFORE the twice-read prefix
    // and docsets frames and alongside the tiny thrice-read
    // fingerprints.
    val frames = Seq(
      ("fingerprints", 40L << 20, 3.0),
      ("shingle_index", 1058L << 20, 1.0),   // 1 read — cheapest per freed byte
      ("jaccard_prefix", 1244L << 20, 2.0),
      ("jaccard_docsets", 1108L << 20, 2.0),
      ("minhash_signatures", 417L << 20, 1.0))
    // Build-order demotion would evict the newest; reads-ascending
    // picks the LARGER once-read frame, keeping both two-read verify
    // frames (the measured sf50 mis-pick of the bytes-per-read
    // formulation: 2.4 GB/sweep of disk reads to avoid 1.0).
    assert(frames(Dedup.demotionVictim(frames))._1 == "shingle_index")
    // Next victim among the rest: the remaining once-read frame,
    // never the twice-read verify frames or the tiny hot frame.
    val rest = frames.filterNot(_._1 == "shingle_index")
    assert(rest(Dedup.demotionVictim(rest))._1 == "minhash_signatures")
    // Equal reads: larger frame first (same cost ratio, fewer
    // demotions); full ties break toward the NEWEST frame —
    // degenerates to the r16 build-order rule.
    val equalReads = Seq(("a", 200L, 1.0), ("b", 300L, 1.0), ("c", 250L, 1.0))
    assert(Dedup.demotionVictim(equalReads) == 1)
    val tied = Seq(("a", 100L, 1.0), ("b", 100L, 1.0), ("c", 100L, 1.0))
    assert(Dedup.demotionVictim(tied) == 2)
  }

  /** A fresh copy of the test corpus's documents and embeddings, so
    * the index memo (keyed on session and directory) starts empty.
    */
  private def corpusCopy(name: String): String = {
    val dir = tmpDir(name)
    for (t <- Seq("documents", "embeddings")) java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/$t.parquet"), java.nio.file.Paths.get(dir, s"$t.parquet"))
    dir
  }

  test("prewarm on the test corpus starts 26 jobs") {
    // Each persisted frame is filled by one noop write, plus AQE's
    // stage jobs where its plan shuffles, and prewarm touches each
    // frame once. A count per fill, a recount in prewarm or an eager
    // checkpoint per propagation round shows here as more jobs.
    val dir = corpusCopy("prewarmjobs")
    val jobs = jobsStarted(Dedup.prewarm(spark, dir))
    assert(jobs == 26, s"prewarm started $jobs jobs")
  }

  test("prewarm fills every resident frame's cache at the ladder's tier") {
    // Every test-corpus frame is small: multi-read frames start at
    // MEMORY_AND_DISK and once-read frames upgrade to it after their
    // first fill. Fully cached means the fill computed every partition.
    import org.apache.spark.storage.StorageLevel
    val dir = corpusCopy("prewarmfill")
    Dedup.prewarm(spark, dir)
    val frames = Map(
      "fingerprints" -> Dedup.fingerprints(spark, dir),
      "shingle_index" -> Dedup.shingleIndex(spark, dir),
      "minhash_signatures" -> Dedup.minHashSignatures(spark, dir),
      "lsh_pairs" -> Dedup.minHashPairs(spark, dir),
      "clusters" -> Dedup.nearDupClusters(spark, dir))
    val resident = Dedup.IndexHolder.demoteLock.synchronized {
      Dedup.IndexHolder.residents.filter(r => frames.get(r.label).exists(_ eq r.df)).toSeq
    }
    assert(resident.map(_.label).sorted == frames.keys.toSeq.sorted)
    val infos = spark.sparkContext.getRDDStorageInfo.map(i => i.id -> i).toMap
    for (r <- resident) {
      assert(r.df.storageLevel == StorageLevel.MEMORY_AND_DISK, r.label)
      assert(r.rddIds.nonEmpty, s"${r.label}: no cached RDD")
      for (id <- r.rddIds) {
        val i = infos(id)
        assert(i.storageLevel == StorageLevel.MEMORY_AND_DISK, r.label)
        assert(i.numCachedPartitions == i.numPartitions,
          s"${r.label}: ${i.numCachedPartitions} of ${i.numPartitions} partitions cached")
      }
    }
  }

  // --- windowRank: TopK-aggregate form vs the declared window form ---

  test("windowRank: TopK aggregate form is row-identical to the row_number window form") {
    // The r19 rewrite executes top-5-per-group as a bounded TopK
    // partial aggregation; the DECLARED semantics stay the window
    // form (the oracle SQL keeps it). This spec holds the two forms
    // together on real corpus data, including whatever price ties the
    // corpus contains, and pins the packing assumption the id
    // tiebreak rides on.
    import org.apache.spark.sql.expressions.Window
    val sf01 = "/root/testdata/sf0.01"
    val li = Tables.lineitem(spark, sf01)
    // Packing assumption: l_linenumber fits the id's low bits.
    val mm = li.agg(min($"l_linenumber"), max($"l_linenumber")).head()
    assert(mm.getInt(0) >= 0 &&
      mm.getInt(1) < (1 << Relational.windowRankIdBits),
      s"l_linenumber out of packed-id range: $mm")
    val w = Window.partitionBy("l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val reference = li
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"l_returnflag", $"rn", $"l_orderkey", $"l_linenumber",
        round($"l_extendedprice", 4).as("price"))
      .orderBy("l_returnflag", "rn")
    val got = Relational.windowRank(spark, sf01)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      reference.schema.map(f => (f.name, f.dataType)))
    assert(got.collect().toSeq == reference.collect().toSeq)
  }

  test("windowRank: ties and short groups match the window form on a constructed frame") {
    // Constructed corner cases the corpus may not cover: exact price
    // ties resolved by (orderkey, linenumber), and a group with fewer
    // than k rows. Driven through the SAME TopK packing as windowRank.
    val rows = Seq(
      // flag A: 7 rows, exact tie at 100.0 across three rows
      ("A", 100.0, 3L, 2), ("A", 100.0, 3L, 1), ("A", 100.0, 2L, 7),
      ("A", 99.5, 1L, 1), ("A", 101.0, 9L, 4), ("A", 98.0, 5L, 1),
      ("A", 100.0, 4L, 1),
      // flag B: only 2 rows (short group)
      ("B", 1.0, 8L, 3), ("B", 2.0, 7L, 2))
      .toDF("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
    val packed = shiftleft($"l_orderkey", Relational.windowRankIdBits) +
      $"l_linenumber".cast("long")
    val got = rows.groupBy("l_returnflag")
      .agg(graft.functions.TopK.column(5, $"l_extendedprice", packed).as("top"))
      .select($"l_returnflag", posexplode($"top").as(Seq("pos", "s")))
      .select($"l_returnflag", ($"pos" + 1).cast("int").as("rn"),
        shiftright($"s".getField("id"), Relational.windowRankIdBits).as("k"),
        $"s".getField("id")
          .bitwiseAND(lit((1L << Relational.windowRankIdBits) - 1))
          .cast("int").as("ln"),
        $"s".getField("score").as("price"))
      .orderBy("l_returnflag", "rn")
      .collect().toSeq
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val want = rows.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"l_returnflag", $"rn", $"l_orderkey".as("k"),
        $"l_linenumber".as("ln"), $"l_extendedprice".as("price"))
      .orderBy("l_returnflag", "rn")
      .collect().toSeq
    assert(got == want)
  }
}
