package graft

import graft.operators.Dedup

/** Hot-bucket hardening for the near-dup operators (VERDICT r2 #8): a
  * corpus flooded with byte-identical documents must not blow up the LSH
  * bucket join (B copies in one bucket → B² candidates). The collapse
  * design puts ONE representative per distinct text into the LSH pipeline
  * and reconstructs the pair set afterwards with output-linear work.
  */
class DedupSpec extends SparkSpec {

  test("identical-doc flood: pair set exact, candidate space collapsed") {
    import spark.implicits._
    val floodA = (1L to 1000L).map(i => (i, "alpha beta gamma delta epsilon"))
    val floodB = (5001L to 5500L).map(i => (i, "zeta eta theta iota kappa"))
    val df = (floodA ++ floodB).toDF("doc_id", "text")

    val out = Dedup.minHashNearDup(df, "doc_id", "text", 3, 0.8)
    // All within-group pairs at jaccard 1.0; no cross-group pairs.
    val n = 1000L * 999 / 2 + 500L * 499 / 2
    assert(out.count() === n)
    assert(out.filter(org.apache.spark.sql.functions.col("jaccard") =!= 1.0).count() === 0L)

    val ng = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.8)
    assert(ng.count() === n)
  }

  test("exact-dup collapse preserves cross-group near-dup pairs") {
    import spark.implicits._
    val t1 = (1 to 50).map(i => s"w$i").mkString(" ")
    val t2 = ((1 to 49).map(i => s"w$i") :+ "zzz").mkString(" ")
    val df = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
    val out = Dedup.minHashNearDup(df, "doc_id", "text", 3, 0.8)
      .orderBy("id_a", "id_b").collect()
    // (1,2) exact → 1.0; (1,3)/(2,3) inherit the representative-level
    // jaccard (47 of 49 3-gram shingles shared ≈ 0.9592).
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(out(0).getDouble(2) === 1.0)
    assert(out(1).getDouble(2) === out(2).getDouble(2))
    assert(out(1).getDouble(2) >= 0.8)
  }

  test("embedding near-dup: perturbed twin pairs, negated vector does not") {
    import spark.implicits._
    val a = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val b = a.map(x => x + 0.001f)           // cosine ~ 1, same sign pattern
    val c = a.map(x => -x)                   // cosine = -1, opposite signs
    val df = Seq((1L, a.toSeq), (2L, b.toSeq), (3L, c.toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Dedup.embeddingNearDup(df, "vec_id", "embedding", 8, 8, 0.35)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(out(0).getDouble(2) > 0.99)
  }

  test("sub-shingle-length duplicates never pair (no shingles, no jaccard)") {
    import spark.implicits._
    // Two tokens < shingleK=3: the shingle set is empty, so even identical
    // copies are NOT near-dup pairs — matching the oracle, where such docs
    // never enter the signature table.
    val df = Seq((1L, "too short"), (2L, "too short"),
      (3L, "long enough to shingle properly here")).toDF("doc_id", "text")
    assert(Dedup.minHashNearDup(df, "doc_id", "text", 3, 0.8).count() === 0L)
  }

  test("connected components: chains close transitively, components stay apart") {
    import spark.implicits._
    // Component {1,2,3,4} is a CHAIN (1-2, 2-3, 3-4): only the transitive
    // closure puts 4 with 1. {10,11} is separate. 7 never appears.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    assert(rows(comps) === Set(
      Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L), Seq(4L, 1L),
      Seq(10L, 10L), Seq(11L, 10L)))
    // Both endpoints land in one node column: mixed types are refused up
    // front with the contract in the message.
    val mixed = intercept[IllegalArgumentException](Dedup.connectedComponents(
      Seq((1L, "2")).toDF("id_a", "id_b"), "id_a", "id_b"))
    assert(mixed.getMessage.contains("must have the same data type"))
  }

  test("near-dup clusters: every doc labeled, canonical keeps, chain collapses") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, t), (2L, t + " x"), // near-dups of each other
      (5L, "completely different text that stands alone in this corpus"))
      .toDF("doc_id", "text")
    val out = Dedup.nearDupClusters(docs, "doc_id", "text", 3, 0.5)
      .orderBy($"doc_id")
    assert(rows(out) === Set(
      Seq(1L, 1L, 1), Seq(2L, 1L, 0), Seq(5L, 5L, 1)))
  }

  test("incremental dedup: corpus-seen content dropped, batch-internal dups collapse") {
    import spark.implicits._
    val corpus = Seq((100L, "seen before"), (101L, "Seen   BEFORE"), // corpus dup: irrelevant
      (102L, "corpus only")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen before"),    // exact corpus dup → dropped
      (2L, "SEEN  before "),  // normalized corpus dup → dropped
      (3L, "fresh content"), (4L, "Fresh   CONTENT"), // batch-internal pair → one row
      (5L, "also new")).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
    assert(out.count() === 2)
    assert(rows(out.select($"doc_id", $"n_copies")) ===
      Set(Seq(3L, 2L), Seq(5L, 1L)))
  }

  test("star CC: path graph closes in log rounds where propagation needs diameter rounds") {
    import spark.implicits._
    // A 64-node PATH (0-1, 1-2, …, 62-63): diameter 63. Min-label
    // propagation moves the label one hop per round, so maxIter=20 cannot
    // converge it — while star rounds contract diameter-independently and
    // close it well within 12.
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalArgumentException] {
      Dedup.connectedComponents(path, "id_a", "id_b").collect()
    }
    val star = Dedup.connectedComponentsStar(path, "id_a", "id_b", maxIter = 12)
    assert(rows(star) === (0L to 63L).map(n => Seq(n, 0L)).toSet)
  }

  test("star CC equals propagation CC on a mixed multi-component graph") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 11L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 31L))
      .toDF("id_a", "id_b")
    assertSameRows(
      Dedup.connectedComponentsStar(pairs, "id_a", "id_b"),
      Dedup.connectedComponents(pairs, "id_a", "id_b"))
  }

  test("semantic dedup: perturbation chain collapses to one cluster, negation stays apart") {
    import spark.implicits._
    val a = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val b = a.map(x => x + 0.001f)  // twin of a
    val c = b.map(x => x + 0.001f)  // twin of b — chains to a transitively
    val n = a.map(x => -x)          // cosine -1: its own cluster
    val df = Seq((1L, a.toSeq), (2L, b.toSeq), (3L, c.toSeq), (9L, n.toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Dedup.semanticDedup(df, "vec_id", "embedding", 8, 8, 0.35)
    assert(rows(out) === Set(
      Seq(1L, 1L, 1), Seq(2L, 1L, 0), Seq(3L, 1L, 0), Seq(9L, 9L, 1)))
  }

  test("overlap pairs: subset doc hits 1.0 where jaccard misses; disjoint stays out") {
    import spark.implicits._
    val big = (1 to 60).map(i => s"w$i").mkString(" ")   // 58 3-shingles
    val sub = (10 to 20).map(i => s"w$i").mkString(" ")  // 9 shingles, all ⊂ big
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, big), (2L, sub), (3L, other), (4L, big)).toDF("doc_id", "text")
    val out = Dedup.overlapPairs(df, "doc_id", "text", 3, 0.8)
      .orderBy("id_a", "id_b").collect()
    // (1,2): containment 9/9 = 1.0 — jaccard would be 9/58 ≈ 0.155 and
    // x6 at 0.8 would never emit it; (1,4) exact dup 1.0; (2,4) inherits
    // the subset containment against the duplicate.
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((1L, 2L, 1.0), (1L, 4L, 1.0), (2L, 4L, 1.0)))
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!jac.contains((1L, 2L)), "jaccard at 0.8 must miss the subset pair")
  }

  test("hot-shingle salted AllPairs path: pair set and jaccards identical to the plain join") {
    import spark.implicits._
    // Every doc shares the 3-gram "common one two" (df = 12 — hot at cap 4);
    // the tails are unique, so pairwise jaccard is 1 shared of ~9 union —
    // above a 0.05 threshold, below 0.5, so the DIRECT AllPairs path runs.
    // Docs 100/101 are near-dups whose intersection mixes the hot shingle
    // with cold ones — the salted and plain legs must sum into one _i.
    val base = (1L to 10L).map(i =>
      (i, s"common one two u${i}a u${i}b u${i}c u${i}d"))
    val near = Seq(
      (100L, "common one two same tail here exactly match"),
      (101L, "common one two same tail here exactly matched"))
    val df = (base ++ near).toDF("doc_id", "text")
    def run(): Seq[Seq[Any]] = sortedRows(
      Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.05))
    val plain = run() // default cap 16384: no hot shingles, plain join
    assert(plain.size === 12 * 11 / 2, "every pair shares the hot shingle")
    try {
      spark.conf.set("spark.graft.allpairs.hotDf", "4")
      spark.conf.set("spark.graft.allpairs.salts", "3")
      val salted = run()
      assert(salted === plain)
    } finally {
      spark.conf.unset("spark.graft.allpairs.hotDf")
      spark.conf.unset("spark.graft.allpairs.salts")
    }
  }

  test("keepBestPerCluster: longest member survives, one keep per cluster, singletons keep themselves") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 10), (2L, 40), (3L, 40), (9L, 5))
      .toDF("doc_id", "ws_tokens")
    val out = Dedup.keepBestPerCluster(clusters, "doc_id", "cluster_id",
        scores, "ws_tokens")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // Doc 2 wins cluster 1 (score tie with 3 → smaller id); the min-id
    // member (1) does NOT survive — the policy genuinely differs from
    // nearDupClusters' keep. Singleton 9 keeps itself.
    assert(out.toSeq === Seq((1L, 1L, 10, 0), (2L, 1L, 40, 1),
      (3L, 1L, 40, 0), (9L, 9L, 5, 1)))
  }

  test("property: overlap pairs equal brute force on random corpora (prefix filter lossless)") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Small vocab forces shared shingles; subset docs, exact dups, and
    // sub-k docs all arise naturally from the generator.
    val docGen = for {
      n <- Gen.choose(0, 14)
      toks <- Gen.listOfN(n, Gen.oneOf((1 to 8).map(i => s"w$i")))
    } yield toks.mkString(" ")
    val corpusGen = Gen.choose(4, 14).flatMap(m => Gen.listOfN(m, docGen))
    def shingleSet(text: String): Set[String] = {
      val t = text.split("\\s+").filter(_.nonEmpty)
      if (t.length < 3) Set.empty
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val prop = Prop.forAll(corpusGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.overlapPairs(docs, "doc_id", "text", 3, 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = texts.zipWithIndex.map { case (t, i) => i.toLong -> shingleSet(t) }
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets
        if ia < ib && sa.nonEmpty && sb.nonEmpty
        ov = sa.intersect(sb).size.toDouble / math.min(sa.size, sb.size)
        if ov >= 0.8
      } yield (ia, ib, BigDecimal(ov).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, s"overlapPairs: $res")
  }

  test("incremental near-dup over batches equals the one-shot batch answer") {
    import spark.implicits._
    // ~40 tokens: one changed token alters 3 of 38 shingles → jaccard
    // ≈ 35/41 ≈ 0.854, above the 0.8 threshold.
    val base = (1 to 37).map(i => s"tok$i").mkString("spark ", " ", " end")
    val docs = Seq(
      (1L, base),                                  // batch 1 (id % 2 == 1)
      (2L, base),                                  // batch 0: exact dup of 1, cross-batch
      (3L, base.replace("tok20", "swapped")),      // near-dup of 1/2, batch 1
      (4L, base.toUpperCase),                      // different shingles entirely
      (5L, "too short"),                           // sub-k: must never pair
      (6L, base),                                  // exact dup in batch 0 with 2
      (7L, "completely unrelated text about nothing in particular here"))
      .toDF("doc_id", "text")
    val full = Dedup.minHashNearDup(docs, "doc_id", "text", 3, 0.8)

    val idx = java.nio.file.Files.createTempDirectory("incnd").toString
    val inc = (0 until 2).map(b =>
        Dedup.incrementalNearDup(docs.where($"doc_id" % 2 === b),
          "doc_id", "text", 3, 0.8, s"$idx/index"))
      .reduce(_ unionByName _)
    assertSameRows(inc, full)
    // Sanity on the fixture itself: the cross-batch exact pair and the
    // near pair are both present.
    val pairs = rows(inc.select($"id_a", $"id_b"))
    assert(pairs.contains(Seq(1L, 2L)) && pairs.contains(Seq(1L, 3L)))
  }

  test("incremental flood: exact dups collapse before banding, index stays rep-only") {
    import spark.implicits._
    // 300 byte-identical docs per batch: uncollapsed, the band join against
    // the accumulated index would materialize ~Bands·B² candidate rows
    // (ADVICE r6). Collapsed, each batch bands ONE representative and the
    // index accumulates one signature per distinct text.
    val idx = java.nio.file.Files.createTempDirectory("incflood").toString + "/index"
    val mk = (r: Range) => r.map(i => (i.toLong, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val p1 = Dedup.incrementalNearDup(mk(1 to 300), "doc_id", "text", 3, 0.8, idx)
    val p2 = Dedup.incrementalNearDup(mk(301 to 600), "doc_id", "text", 3, 0.8, idx)
    // Batch 1: C(300,2) within pairs; batch 2: C(300,2) within + 300·300 cross.
    assert(p1.count() === 300L * 299 / 2)
    assert(p2.count() === 300L * 299 / 2 + 300L * 300)
    assert(p1.union(p2).filter($"jaccard" =!= 1.0).count() === 0L)
    // The persisted signature index (r13: one doc-grain /sig table of
    // (id, bands array, sset)) carries ONE rep per (batch, text): 2 rows
    // — not 600 — and 2 × Bands band entries after the read-side explode.
    assert(spark.read.parquet(s"$idx/sig").count() === 2L)
    assert(spark.read.parquet(s"$idx/sig")
      .select(org.apache.spark.sql.functions.explode($"bands"))
      .count() === 2L * Dedup.Bands)
    assert(spark.read.parquet(s"$idx/members").count() === 600L)
    // Mixed paths on one index: a COLD batch (no hot group — collapse
    // skipped) carrying one more copy of the flood text must still expand
    // against the hot index's member mapping and pair with ALL 600 copies.
    val p3 = Dedup.incrementalNearDup(
      Seq((601L, "alpha beta gamma delta epsilon"),
          (602L, "totally unrelated words here now")).toDF("doc_id", "text"),
      "doc_id", "text", 3, 0.8, idx)
    assert(p3.count() === 600L)
    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    assert(p3.agg(fmin($"id_a"), fmax($"id_a"), fmin($"id_b"), fmax($"id_b"))
      .collect()(0).toSeq === Seq(1L, 600L, 601L, 601L))
  }

  test("incremental near-dup replay: a batch re-run against its own crashed index append emits the identical pair set") {
    import spark.implicits._
    val base = (1 to 37).map(i => s"tok$i").mkString("spark ", " ", " end")
    val b0 = Seq((1L, base), (2L, base.replace("tok20", "swapped")))
      .toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("incnd-replay").toString
    val first = Dedup.incrementalNearDup(b0, "doc_id", "text", 3, 0.8, s"$idx/index")
    // Crash window: index append happened, pairs marker did not — the
    // replay reruns the SAME batch against an index that already holds its
    // signatures. Self-pairs and duplicate candidates must not appear.
    val replay = Dedup.incrementalNearDup(b0, "doc_id", "text", 3, 0.8, s"$idx/index")
    assertSameRows(first, replay)
    assert(replay.filter($"id_a" === $"id_b").count() === 0L)
    assert(replay.count() === replay.distinct().count())
  }

  test("substringPairs: shared >= L substring detected, shorter shares and self-repeats excluded") {
    import spark.implicits._
    val common = "0123456789abcdefghij" // length 20
    val docs = Seq(
      (1L, s"XX${common}YY"),          // shares `common` with 2
      (2L, s"zz${common}qq"),
      (3L, "no overlap with anything here at all"),
      (4L, common.take(9) + "#" + common.takeRight(9)), // breaks every 10-window
      (5L, s"AA$common$common"))       // self-repeat + shares with 1, 2
      .toDF("doc_id", "text")
    val out = Dedup.substringPairs(docs, "doc_id", "text", 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = out.map { case (a, b, _) => (a, b) }.toSet
    assert(pairs === Set((1L, 2L), (1L, 5L), (2L, 5L)))
    // Docs 1 and 2 share exactly the 11 distinct 10-windows of `common`.
    assert(out.find { case (a, b, _) => (a, b) == (1L, 2L) }.get._3 === 11L)
    // A doc shorter than L yields nothing (and no crash).
    assert(Dedup.substringPairs(Seq((9L, "tiny")).toDF("doc_id", "text"),
      "doc_id", "text", 10).count() === 0L)
  }

  test("winnowedSubstringPairs: guarantee length detected, pairs subset of full detection, short docs represented") {
    import spark.implicits._
    // L = 10, w = 4: detection guaranteed for shares >= 10 + 4 - 1 = 13.
    val share = "0123456789abc" // exactly the guarantee length
    val docs = Seq(
      (1L, s"left-flank-one${share}tail-A-unique-part"),
      (2L, s"другой-префикс${share}and-another-end"),
      (3L, "nothing shared with anything else here at all"),
      (4L, "tiny"),                    // < L: no windows at all
      (5L, s"B$share"),                // m = 5 hashes (>= w)
      (6L, s"C${share.take(11)}"))     // only an 11-char share with 1/2/5
      .toDF("doc_id", "text")
    val winnowed = Dedup.winnowedSubstringPairs(docs, "doc_id", "text", 10, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wPairs = winnowed.map { case (a, b, _) => (a, b) }.toSet
    // The winnowing theorem: every pair sharing >= L+w-1 chars is found.
    assert(Set((1L, 2L), (1L, 5L), (2L, 5L)).subsetOf(wPairs))
    // Soundness: winnowing fingerprints are a subset of the full window
    // set, so every winnowed pair is a substringPairs pair with
    // n_shared_fp <= n_shared.
    val full = Dedup.substringPairs(docs, "doc_id", "text", 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    winnowed.foreach { case (a, b, n) =>
      assert(full.contains((a, b)) && n <= full((a, b)))
    }
    // A doc with fewer than w hashes still fingerprints (min of what it
    // has): two copies of a short-but->=L text must pair.
    val short = Seq((7L, "0123456789a"), (8L, "0123456789a"))
      .toDF("doc_id", "text") // m = 2 hashes < w = 4
    assert(Dedup.winnowedSubstringPairs(short, "doc_id", "text", 10, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((7L, 8L)))
    // Compression: a long doc selects strictly fewer fingerprints than it
    // has distinct windows (here: distinct hashes > fingerprints).
    import org.apache.spark.sql.functions._
    val one = Seq((9L, ('a' to 'z').mkString * 4)).toDF("doc_id", "text")
    val fullCount = one.select(explode(array_distinct(
      transform(sequence(lit(1), length($"text") - 9),
        i => md5($"text".substr(i, lit(10))))))).count()
    val hs = transform(sequence(lit(1), length($"text") - 9),
      i => md5($"text".substr(i, lit(10))))
    val fpCount = one.select(explode(array_distinct(
      transform(sequence(lit(1), greatest(size(hs) - 3, lit(1))),
        p => array_min(slice(hs, p, lit(4))))))).count()
    assert(fpCount < fullCount)
  }

  test("removeDuplicatedSpans: shared spans removed, unshared text intact, short docs pass through") {
    import spark.implicits._
    val common = "0123456789abcdefghij" // length 20; L = 10 below
    val docs = Seq(
      (1L, s"XX${common}YY"),  // shares `common` with 2
      (2L, s"zz${common}qq"),
      (3L, "no overlap with anything here at all"),
      (4L, "tiny"))            // shorter than L: no windows, passthrough
      .toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", 10)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // Every char of `common` is covered by a shared 10-window; the
    // doc-unique flanks survive untouched and in order.
    assert(out(1L) === (("XXYY", 4L, 20L)))
    assert(out(2L) === (("zzqq", 4L, 20L)))
    assert(out(3L)._3 === 0L)
    assert(out(3L)._1 === "no overlap with anything here at all")
    assert(out(4L) === (("tiny", 4L, 0L)))
    // A WITHIN-doc repeat alone is not "duplicated" (cross-doc contract):
    val self = Seq((7L, common + common), (8L, "unrelated text entirely"))
      .toDF("doc_id", "text")
    val selfOut = Dedup.removeDuplicatedSpans(self, "doc_id", "text", 10)
      .filter($"doc_id" === 7L).head()
    assert(selfOut.getLong(3) === 0L)
  }

  test("pairSetEval: miss lowers recall, spurious pair lowers precision, empty sets read 1.0") {
    import spark.implicits._
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val approx = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val r = Dedup.pairSetEval(approx, exact, "id_a", "id_b").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 3L, 2L)))
    assert(r.getDouble(3) === 0.6667 && r.getDouble(4) === 0.6667)
    // Exact-verified approximate path: subset of truth → precision 1.0.
    val sub = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r2 = Dedup.pairSetEval(sub, exact, "id_a", "id_b").collect()(0)
    assert(r2.getDouble(3) === 1.0 && r2.getDouble(4) === 0.3333)
    // Degenerate empties: defined as perfect, not NaN.
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val r3 = Dedup.pairSetEval(none, none, "id_a", "id_b").collect()(0)
    assert(r3.getDouble(3) === 1.0 && r3.getDouble(4) === 1.0)
  }

  test("blockedEditDistancePairs: within-block near matches kept, out-of-block and too-far excluded") {
    import spark.implicits._
    val ents = Seq(
      (1L, "smith john"),
      (2L, "smith jean"),   // dist 2 from 1, same block "smit"
      (3L, "smyth john"),   // dist 1 from 1 but block "smyt" → excluded
      (4L, "smith jonathan"), // dist 4 from 1 → too far
      (5L, "jones mary"))
      .toDF("id", "name")
    val out = Dedup.blockedEditDistancePairs(ents, "id", "name",
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.col("name"), 1, 4), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 2L)))
  }

  test("sourceOverlapMatrix: pair counts hand-computed, each fp counted once per pair, no self-pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // fp1 appears in A (twice — must not double count), B, C → pairs
    // (A,B), (A,C), (B,C). fp2 in A and B → (A,B) again. fp3 only in C →
    // never expands.
    val docs = Seq(
      ("fp1", "A"), ("fp1", "A"), ("fp1", "B"), ("fp1", "C"),
      ("fp2", "A"), ("fp2", "B"),
      ("fp3", "C")).toDF("fp", "source")
    val out = Dedup.sourceOverlapMatrix(docs, col("fp"), "source")
      .orderBy(col("src_a"), col("src_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      ("A", "B", 2L), ("A", "C", 1L), ("B", "C", 1L)))
    // Partitioning independence.
    val out7 = Dedup.sourceOverlapMatrix(docs.repartition(7), col("fp"), "source")
      .orderBy(col("src_a"), col("src_b")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out7.toSeq === out.toSeq)
  }

  test("weightedJaccardPairs: rare shared tokens outweigh boilerplate; zero overlap stays finite") {
    import spark.implicits._
    // N = 4; df: rare 2, the 3, x/y/q 1. Smoothed idf (6 dp): rare
    // 1.510826, the 1.223144, singletons 1.916291. Pair (1,2) shares
    // {rare, the}: jaccard 2/4 = 0.5, wjaccard 2.73397/6.566552 =
    // 0.416348 — BELOW plain jaccard because the shared mass is the
    // common tokens (the boilerplate read). Pair (3,4) shares nothing:
    // both scores 0, no divide error.
    val docs = Seq((1L, "rare the x"), (2L, "rare the y"),
      (3L, "the"), (4L, "q")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.weightedJaccardPairs(docs, pairs, "doc_id", "text")
      .orderBy($"id_a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out(0) === ((1L, 2L, 2L, 0.5, 0.416348)))
    assert(out(1) === ((3L, 4L, 0L, 0.0, 0.0)))
  }
  test("dbscanLsh: two dense cliques stay separate across a shared border point; isolated tail is noise") {
    import spark.implicits._
    // 4-d vectors, 2 bands x 2 rows. Clique A (ids 1-4) hugs e1 with a
    // dim-2 jitter ladder {0,.05,.1,.15}; clique B (ids 11-14) mirrors it
    // on e3/e4. Bridge 21 = (1,.6,1,.6): cosine .651 to the j=.15 member
    // of each clique, .637 to j=.10 — eps .64 cuts between them, so the
    // bridge sees EXACTLY one core per clique: degree 2 < minPts-1 = 3,
    // a BORDER point, and the two clusters do NOT merge through it (the
    // failure mode of plain CC dedup). 31 = (0,1,0,-1) collides in band 0
    // with everything (exercising the verify cut) but no cosine reaches
    // eps: noise.
    def v(a: Double, b: Double, c: Double, d: Double) =
      Array(a.toFloat, b.toFloat, c.toFloat, d.toFloat)
    val emb = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(1, 0.05, 0, 0)),
      (3L, v(1, 0.10, 0, 0)), (4L, v(1, 0.15, 0, 0)),
      (11L, v(0, 0, 1, 0)), (12L, v(0, 0, 1, 0.05)),
      (13L, v(0, 0, 1, 0.10)), (14L, v(0, 0, 1, 0.15)),
      (21L, v(1, 0.6, 1, 0.6)), (31L, v(0, 1, 0, -1)))
      .toDF("vec_id", "embedding")
    val out = Dedup.dbscanLsh(emb, "vec_id", "embedding", 2, 2, 0.64, 4)
      .orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "core", 1L), (2L, "core", 1L), (3L, "core", 1L),
      (4L, "core", 1L),
      (11L, "core", 11L), (12L, "core", 11L), (13L, "core", 11L),
      (14L, "core", 11L),
      (21L, "border", 1L), (31L, "noise", -1L)))
  }

  test("dbscanLsh: an isolated core (all neighbors border) still seeds its own singleton cluster") {
    import spark.implicits._
    // Hub 1 is adjacent to spokes 2 and 3 (degree 2 >= minPts-1 = 2 ->
    // core); the spokes see only the hub (degree 1 -> border). No
    // core-core edge exists, so the cluster must come from the
    // singleton-core seeding path.
    def v(a: Double, b: Double, c: Double, d: Double) =
      Array(a.toFloat, b.toFloat, c.toFloat, d.toFloat)
    val emb = Seq(
      (1L, v(1, 0.5, 0, 0)), (2L, v(1, 0, 0, 0)), (3L, v(0.5, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    // cos(1,2) = .894, cos(1,3) = .8, cos(2,3) = .447: eps .7.
    val out = Dedup.dbscanLsh(emb, "vec_id", "embedding", 2, 2, 0.7, 3)
      .orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq === Seq(
      (1L, "core", 1L), (2L, "border", 1L), (3L, "border", 1L)))
  }
}
