package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline (north-star
  * extension; SURVEY.md §7.2 step 6).
  *
  * Scale design: exact dedup is a single hash aggregation on the content
  * hash (one shuffle, map-side partial). Near-dup is MinHash + LSH banding:
  * the only join is a self-equi-join on (band, band_key) — i.e. docs are
  * only ever compared within an LSH bucket, never all-pairs. Candidate
  * verification joins back to per-doc shingle-set arrays (bounded: one
  * array of ~1e2 hashes per doc).
  *
  * All hashing is engine-portable arithmetic (md5 + integer polynomial
  * ops), so the DuckDB oracle reproduces the exact same signatures.
  */
object Dedup {

  /** Exact content dedup: group rows by md5 of the content column, keep the
    * minimum id as canonical, count copies. */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Canonical text-normalization key: lowercase, trim, collapse whitespace
    * runs — the cheap pre-pass that catches trivially-reformatted copies
    * exact dedup misses. Pure projection (codegen regexp_replace). */
  def normalizeText(textCol: Column): Column =
    regexp_replace(lower(trim(textCol)), "\\s+", " ")

  /** Exact dedup on the NORMALIZED content: collapses casing/whitespace
    * variants into one group. Same one-shuffle hash-agg shape as
    * [[exactDedup]]. */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol))).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** INCREMENTAL corpus dedup — the daily-ingest shape: dedupe a new
    * `batch` against the EXISTING corpus without re-touching
    * corpus-internal duplicates. The corpus contributes only its distinct
    * normalized-content-hash index (orders smaller than the corpus, and in
    * production precomputed once and appended to per ingest); the batch
    * anti-joins that index on the hash, then collapses its own internal
    * duplicates with the standard hash agg.
    *
    * Scale shape: one hash-partitioned LeftAnti join on the md5 key (AQE
    * broadcasts the index side when it fits) + the [[normalizedDedup]]
    * one-shuffle agg over the surviving batch — the 100 TB corpus is never
    * scanned beyond building (once, amortized) its hash index. Output:
    * same contract as [[normalizedDedup]], restricted to content the
    * corpus has never seen. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val key = md5(normalizeText(col(textCol)))
    val idx = corpus.select(key.as("content_hash")).distinct()
    batch.withColumn("content_hash", key)
      .join(idx, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
  }

  /** Near-duplicate detection for INCREMENTAL ingest — [[incrementalDedup]]
    * lifted from exact to near duplicates. A persisted LSH signature index
    * (band keys + md5-image shingle sets, both size-bounded per doc — never
    * the text) lets each new batch find its near-dups against the whole
    * corpus-so-far without rescanning it.
    *
    * Per batch: shingle + hash ONCE (the md5 is materialized once and
    * reused for both the 32-bit signature image and the verification set);
    * candidates come from the (band, key) equi-join against the index plus
    * the batch-internal band self-join; exact-Jaccard verification runs
    * over md5-image shingle sets (md5 is collision-free at corpus scale, so
    * set cardinalities — and the jaccard — equal the plain-text values);
    * then the batch's bands/sets are APPENDED to the index. Emitted pairs
    * are eagerly localCheckpoint'ed BEFORE the append so the returned frame
    * can never re-plan over its own writes.
    *
    * Feeding a corpus through in any sequence of disjoint batches yields
    * exactly [[minHashNearDup]]'s pair set — each unordered pair surfaces
    * once, in the later doc's batch (identical texts have identical
    * signatures, docs under `shingleK` tokens have no bands on either
    * side) — which is how the registry entry oracles it. At 100 TB the
    * index carries signatures, not text, and a batch's work is
    * proportional to the batch plus its true candidate set, never the
    * corpus. */
  def incrementalNearDup(batch: DataFrame, idCol: String, textCol: String,
                         shingleK: Int, threshold: Double,
                         indexDir: String): DataFrame = {
    // HOT-bucket hardening (the advice-r6 quadratic): B byte-identical
    // docs in a batch put B rows into every one of their LSH buckets, and
    // against the accumulated index the band equi-join materializes
    // ~Bands·B² candidate rows before distinct. The hazard is quadratic in
    // the GROUP size, so the collapse machinery (window, rep semi-join,
    // member-index append, pair expansion) is engaged only when a probe
    // agg finds a text group at or above [[HotGroupThreshold]] copies —
    // small dup groups (the common case after upstream exact dedup) flow
    // through the plain band join, whose per-bucket cost at B < 8 is
    // B² ≤ 49 candidate rows, cheaper than any collapse. Both paths emit
    // the identical pair set (spec-pinned: the equivalence property runs
    // the cold path, the flood test the hot path, and the mixed test one
    // after the other on one index).
    val maxGroup = batch.select(md5(col(textCol)).as("_ch"))
      .groupBy(col("_ch")).agg(count(lit(1)).as("_n"))
      .agg(max(col("_n"))).collect()(0)
    val batchHot = !maxGroup.isNullAt(0) && maxGroup.getLong(0) >= HotGroupThreshold
    val idxHasMembers = {
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/members")
      p.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration).exists(p)
    }
    // Only MULTI-member groups are persisted and joined: expandPairs
    // defaults an endpoint with no member rows to itself, so only text
    // groups of a hot batch ever need storing or joining. The collapse
    // frame is narrow (id, 32-char hash) — the window never shuffles text.
    val members =
      if (batchHot) collapseExact(batch, idCol, textCol).localCheckpoint(eager = false)
      else batch.select(col(idCol), lit("").as("_ch"), col(idCol).as("_rep"),
        lit(1L).as("_grp_n")).limit(0)
    val multi = members.filter(col("_grp_n") > 1)
      .select(col(idCol), col("_ch"), col("_rep"))
    val reps = if (batchHot) repDocsOf(batch, members, idCol) else batch
    // r13 OPT: ONE id-grain aggregation computes both per-doc artifacts —
    // the K minhash signature values AND the md5-image shingle set — where
    // the original aggregated the shingle frame twice (two shuffles of the
    // same rows, plus a checkpoint of the raw shingle rows in between).
    // The combined frame is the only materialization; bands, sets, the
    // verify join and the index appends are all cheap projections of it
    // (guide §1.2: fewer passes; §2.3: aggregate before you shuffle).
    // Values are identical: shingles() is distinct at (id, shingle) grain,
    // so collect_set(_md5) and the min-hash folds see the same rows.
    val aggs = (0 until K).map(j =>
      min((lit(aCoef(j)) * col("_x") + lit(bCoef(j))) % lit(P)).as(s"s$j")) :+
      collect_set(col("_md5")).as("sset")
    val combined = shingles(reps, idCol, textCol, shingleK)
      .withColumn("_md5", md5(col("shingle")))
      .withColumn("_x", conv(substring(col("_md5"), 1, 8), 16, 10).cast("long"))
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(eager = false)
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until R).map(r => col(s"s${b * R + r}")): _*).as("bk"))
    }
    // r13 OPT: the signature index is ONE doc-grain table
    // (id, bands array, sset) instead of separate /bands and /sets tables
    // — one append job + one commit per batch instead of two, one footer
    // listing at read (the per-batch fixed cost the x157/s40 profile
    // showed dominating); parquet column pruning keeps the candidate read
    // (id, bands) and the verify read (id, sset) as narrow as the two
    // tables were. Band rows explode at read exactly as they were stored
    // before, so candidates/verify see identical inputs.
    val sig = combined.select(col(idCol).as("id"),
      array(bandStructs: _*).as("bands"), col("sset"))
    val banded = sig
      .select(col("id"), explode(col("bands")).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.bk").as("bk"))
    val sets = sig.select(col("id"), col("sset"))

    val idxSig = readIndexOr(sig.limit(0), s"$indexDir/sig")
    val idxBands = idxSig
      .select(col("id"), explode(col("bands")).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.bk").as("bk"))
    val idxSets = idxSig.select(col("id"), col("sset"))
    val idxMembers = readIndexOr(multi.limit(0), s"$indexDir/members")

    // Replay hardening (the streaming runner's crash window): a crashed
    // attempt may have appended THIS batch's rows to the index already, so
    // (a) a doc meeting its own indexed signature must not self-pair, and
    // (b) duplicated index rows must not duplicate candidates or pairs —
    // `distinct`/`dropDuplicates("id")` make a double-appended index read
    // exactly like a single-appended one (a doc's shingle SET is
    // order-insensitive, so any copy verifies identically).
    val candIn = banded.select(col("band"), col("bk"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bk"), col("id").as("id_b")),
        Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val candCross = banded
      .join(idxBands.distinct().withColumnRenamed("id", "_iid"), Seq("band", "bk"))
      .filter(col("id") =!= col("_iid"))
      .select(least(col("id"), col("_iid")).as("id_a"),
        greatest(col("id"), col("_iid")).as("id_b"))
    val cand = candIn.unionByName(candCross).distinct()

    val allSets = sets.unionByName(idxSets).dropDuplicates("id")
    val repPairs = cand
      .join(allSets.select(col("id").as("id_a"), col("sset").as("set_a")), Seq("id_a"))
      .join(allSets.select(col("id").as("id_b"), col("sset").as("set_b")), Seq("id_b"))
      .withColumn("_i", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("_i").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

    // Within-batch identical-text pairs come from THIS batch's members only
    // (earlier batches emitted theirs already); rep-level pairs fan out
    // through the multi-member mapping of the whole corpus-so-far. With no
    // multi-member groups anywhere, expansion is the identity.
    val expanded =
      if (!batchHot && !idxHasMembers) repPairs
      else {
        val allMulti = multi.unionByName(idxMembers).dropDuplicates(idCol)
        // combined is already distinct at id grain (one row per shingled doc)
        expandPairs(repPairs, combined.select(col(idCol)),
          multi, allMulti, idCol)
      }
    val pairs = expanded.localCheckpoint(eager = true)

    sig.write.mode("append").parquet(s"$indexDir/sig")
    if (batchHot) multi.write.mode("append").parquet(s"$indexDir/members")
    pairs
  }

  /** Read an index table if it exists, else the (type-correct) empty frame;
    * probes through the Hadoop FileSystem so hdfs:///s3a:// paths behave
    * like local ones. */
  private def readIndexOr(empty: DataFrame, path: String): DataFrame = {
    val spark = empty.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(empty.schema).parquet(path) else empty
  }

  // ---- MinHash + LSH near-dup ----

  /** MinHash parameters: K signatures split into `Bands` bands of `R` rows.
    * Universal-hash family h_j(x) = (A_j·x + B_j) mod P over x = the first
    * 32 bits of md5(shingle) — all values < 2^32, products < 2^49: exact in
    * 64-bit integers on any engine. */
  val P = 2147483647L
  /** Identical-copy group size at which a batch is "hot" and the
    * incremental path engages the exact-dup collapse: below it the plain
    * band join's per-bucket B² is single-digit-squared rows (cheaper than
    * the collapse machinery); at or above it the quadratic dominates. */
  val HotGroupThreshold = 8L
  val K = 12
  val Bands = 4
  val R = 3
  def aCoef(j: Int): Long = 2L * j + 1
  def bCoef(j: Int): Long = 1000003L * j + 17

  /** Word shingles of size k over whitespace-tokenized text:
    * (id, shingle) pairs, distinct per doc.
    *
    * The token array is materialized in its OWN projection before the
    * shingle transform: inlining `split()` into the lambda would re-run the
    * regex split for every `element_at` (3k× per doc — measured 14 s → 2 s
    * at sf0.1), and CollapseProject keeps the boundary because the alias is
    * referenced more than once. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val t = col("_toks")
    df.select(col(idCol),
        filter(split(col(textCol), "\\s+"), x => length(x) > 0).as("_toks"))
      .select(col(idCol),
        explode(when(size(t) >= k,
          transform(sequence(lit(1), size(t) - (k - 1)),
            i => concat_ws(" ", (0 until k).map(o => element_at(t, i + o)): _*)))
          .otherwise(array().cast("array<string>"))).as("shingle"))
      .distinct()
  }

  /** 32-bit integer image of a shingle: first 8 hex chars of its md5. */
  def shingleHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Per-doc MinHash signature columns s0..s{K-1}. The shingle hash is
    * materialized ONCE per row before the aggregation — inlined into the K
    * min-aggregates it would be md5'd K times per shingle. */
  def signatures(shingled: DataFrame, idCol: String): DataFrame = {
    val x = col("_x")
    val aggs = (0 until K).map(j =>
      min((lit(aCoef(j)) * x + lit(bCoef(j))) % lit(P)).as(s"s$j"))
    shingled.withColumn("_x", shingleHash(col("shingle")))
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact-dup collapse (hot-bucket hardening): byte-identical texts map to
    * one representative doc (min id per content hash). A pathological corpus
    * with B copies of one document would otherwise put all B into every one
    * of its LSH buckets — a B² candidate blow-up inside the bucket join;
    * collapsed, it contributes ONE representative per bucket, and the
    * full pair set is reconstructed afterwards with output-linear work.
    * One shuffle (window min over the hash partition). */
  private def collapseExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_ch"))
    df.select(col(idCol), md5(col(textCol)).as("_ch"))
      .withColumn("_rep", min(col(idCol)).over(w))
      .withColumn("_grp_n", count(lit(1)).over(w))
  }

  /** Reconstruct all near-dup pairs from representative-level pairs:
    * within-group pairs are exact duplicates (jaccard 1.0 by identity — no
    * verification needed, but only for groups that shingle at all, matching
    * the semantics that sub-k-token docs never pair); cross-group pairs
    * inherit their representatives' jaccard verbatim (identical text ⇒
    * identical shingle set). Work and output are both linear in the number
    * of emitted pairs. */
  private def expandPairs(repPairs: DataFrame, repsWithShingles: DataFrame,
                          members: DataFrame, idCol: String): DataFrame =
    expandPairs(repPairs, repsWithShingles, members, members, idCol)

  /** As above, with distinct member frames: `withinMembers` generates the
    * identical-text pairs (the incremental path restricts this to the
    * current batch — earlier-batch pairs were emitted in THEIR batch, and
    * batch↔index identical-text pairs arrive via rep-level band pairs
    * instead); `lookupMembers` resolves rep-level pair endpoints to every
    * member of each rep's text group, and MAY omit singleton groups — the
    * left join defaults an endpoint with no member rows to itself, so only
    * multi-member groups ever need storing (the incremental index stays
    * empty for dup-free corpora). */
  private def expandPairs(repPairs: DataFrame, repsWithShingles: DataFrame,
                          withinMembers: DataFrame, lookupMembers: DataFrame,
                          idCol: String): DataFrame = {
    val within = withinMembers.select(col("_ch"), col(idCol).as("id_a"), col("_rep"))
      .join(withinMembers.select(col("_ch"), col(idCol).as("id_b")), Seq("_ch"))
      .filter(col("id_a") < col("id_b"))
      .join(repsWithShingles.select(col(idCol).as("_rep")), Seq("_rep"), "left_semi")
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(lookupMembers.select(col("_rep").as("id_a"), col(idCol).as("_ia")),
        Seq("id_a"), "left")
      .withColumn("_ia", coalesce(col("_ia"), col("id_a")))
      .join(lookupMembers.select(col("_rep").as("id_b"), col(idCol).as("_ib")),
        Seq("id_b"), "left")
      .withColumn("_ib", coalesce(col("_ib"), col("id_b")))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("jaccard"))
    within.unionByName(cross)
  }

  /** Representative docs (one per distinct text) of the collapse frame. */
  private def repDocsOf(df: DataFrame, members: DataFrame, idCol: String): DataFrame =
    df.join(members.filter(col(idCol) === col("_rep")).select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Near-duplicate pairs via banded LSH + exact-Jaccard verification.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold,
    * jaccard rounded to 4 dp.
    *
    * Reused frames (`members`, `shingled`) are `localCheckpoint`ed rather
    * than persisted: one materialization each, downstream consumers read
    * the cached blocks, and the ContextCleaner frees them on GC — no
    * session-lifetime cache leak (r2's 'already cached' warnings). LAZY
    * checkpoints: materialization happens with the caller's first action,
    * so merely constructing the plan (graft.Explain) runs no jobs. */
  def minHashNearDup(df: DataFrame, idCol: String, textCol: String,
                     shingleK: Int, threshold: Double): DataFrame = {
    val members = collapseExact(df, idCol, textCol).localCheckpoint(eager = false)
    val shingled = shingles(repDocsOf(df, members, idCol), idCol, textCol, shingleK)
      .localCheckpoint(eager = false)
    val sigs = signatures(shingled, idCol)

    // One row per (doc, band): band key = the band's R signature values.
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until R).map(r => col(s"s${b * R + r}")): _*).as("bk"))
    }
    val banded = sigs.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.bk").as("bk"))

    // Bucketed candidate generation: equi-join on the band key — docs are
    // only compared within a bucket (never a cartesian of the corpus), and
    // after the exact-dup collapse every doc in a bucket is textually
    // distinct, so bucket sizes are bounded by true near-dup diversity.
    val left = banded.select(col("band"), col("bk"), col(idCol).as("id_a"))
    val right = banded.select(col("band"), col("bk"), col(idCol).as("id_b"))
    val cand = left.join(right, Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()

    val repPairs = verifyJaccard(cand, shingled, idCol, threshold)
    expandPairs(repPairs, shingled.select(col(idCol)).distinct(), members, idCol)
  }

  /** Per-doc shingle sets as DENSE LONG ids: an injective run-local
    * dictionary (monotonically_increasing_id over the distinct shingles,
    * lazily checkpointed so every reference reads the ONE materialization
    * and the ids stay self-consistent) shrinks the verify arrays ~5× vs
    * UTF8 shingle strings and intersects with primitive long equality —
    * at θ=0.5 the verify join was moving ~1 KiB of strings per candidate
    * side and dominated the whole pipeline. Injectivity ⇒ |A∩B| and |A|
    * are bit-identical to the string-set counts, so jaccard/overlap
    * values are unchanged and the exact-ground-truth claim holds (unlike
    * a 64-bit hash remap, where a collision merging two shingles common
    * to a pair can flip a borderline score). */
  private def idSets(shingled: DataFrame, idCol: String): DataFrame = {
    val dict = shingled.select(col("shingle")).distinct()
      .withColumn("_sid", monotonically_increasing_id())
      .localCheckpoint(eager = false)
    shingled.join(dict, Seq("shingle"))
      .groupBy(col(idCol)).agg(collect_set(col("_sid")).as("sset"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs over the
    * full (bounded, ~1e2 entries) shingle sets, as [[idSets]] long ids. */
  private def verifyJaccard(cand: DataFrame, shingled: DataFrame,
                            idCol: String, threshold: Double): DataFrame = {
    val sets = idSets(shingled, idCol)
    cand
      .join(sets.select(col(idCol).as("id_a"), col("sset").as("set_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("sset").as("set_b")), Seq("id_b"))
      .withColumn("_i", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard",
        col("_i").cast("double") / (size(col("set_a")) + size(col("set_b")) - col("_i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // ---- SimHash ----

  /** 32-bit SimHash per doc over whitespace tokens (each occurrence votes):
    * bit b of the hash is 1 iff the signed sum of token-hash bit-b votes is
    * positive. One explode + one aggregation — no joins. */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val perTok = df.select(col(idCol), explode(toks).as("_t"))
      .withColumn("_h", shingleHash(col("_t")))
    val weights = (0 until 32).map(b =>
      sum(when(shiftright(col("_h"), b) % 2 === 1, 1).otherwise(-1)).as(s"_w$b"))
    val sig = (0 until 32).map(b =>
      when(col(s"_w$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    perTok.groupBy(col(idCol))
      .agg(weights.head, weights.tail: _*)
      .select(col(idCol), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: 4 bands of 8 bits each generate candidates
    * (equality join per band — bucketed, not all-pairs), verified by
    * Hamming distance of the full 32-bit hashes <= maxHamming. */
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int): DataFrame = {
    val sigs = simHash(df, idCol, textCol)
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        (shiftright(col("simhash"), 8 * b) % 256).as("bk")))
    val banded = sigs.select(col(idCol), col("simhash"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("simhash"),
        col("bs.band").as("band"), col("bs.bk").as("bk"))
    val left = banded.select(col("band"), col("bk"),
      col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val right = banded.select(col("band"), col("bk"),
      col(idCol).as("id_b"), col("simhash").as("sh_b"))
    left.join(right, Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram-Jaccard near-dup with prefix filtering (the AllPairs/
    * PPJoin family): order every doc's shingle set by global rarity
    * (document frequency asc) and index only the first
    * `n - ceil(t*n) + 1` shingles — two docs with Jaccard >= t MUST share
    * at least one prefix shingle, so the filter is lossless while shrinking
    * the inverted index ~5x at t=0.8 (and far more on real corpora, where
    * most shingles are singletons and never even enter the join). A size
    * filter (`min(n) >= t*max(n)`) prunes candidates before verification.
    * Output is the exact ground truth: every pair with true Jaccard >=
    * threshold, verified on the full shingle sets. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Same exact-dup collapse + checkpoint discipline as [[minHashNearDup]]:
    // identical texts would otherwise share every prefix shingle (a B²
    // inverted-index blow-up) and leak session-lifetime cache.
    val members = collapseExact(df, idCol, textCol).localCheckpoint(eager = false)
    val shingled = shingles(repDocsOf(df, members, idCol), idCol, textCol, shingleK)
      .localCheckpoint(eager = false)
    // r13 OPT: at t <= 0.5 the prefix filter is spent machinery — the
    // prefix keeps `n - ceil(t*n) + 1` of n shingles (>= 50% of every
    // doc), so the candidate join approaches the full shingle-grain
    // self-join ANYWAY, and the pipeline then pays two rarity windows
    // plus a second full-set `array_intersect` verification join on top
    // of it. The direct AllPairs path computes the same exact
    // intersections from ONE shingle-grain equi-join + count (lossless
    // for any t > 0: jaccard >= t implies a shared shingle) — one heavy
    // join instead of two, no windows (guide §1.2: fix the algorithm
    // before the constants). Measured at sf0.1: x103 (t=0.05) 3.8→1.4 s,
    // and at t=0.5 the scorers' candidate stage halves (x114 6.4→3.6,
    // x119 6.2→3.4, x153 7.7→3.1 warm). Above 0.5 the prefix filter's
    // candidate pruning wins and the original path is kept unchanged
    // (x6/x2/x73 at t=0.8: plan-identical).
    val repPairs = if (threshold > 0 && threshold <= 0.5) {
      val sizes = shingled.groupBy(col(idCol)).agg(count(lit(1)).as("_sn"))
      // r14 OPT (guide §2.5 skew): the shingle-grain self-equi-join has no
      // frequency bound — a stopword-like shingle appearing in k documents
      // contributes k² candidate rows into ONE join key, and AQE's skew
      // split cannot divide a single enormous key. Guard: a probe aggregate
      // finds shingles with df >= hotCap (bounded: <= N/hotCap entries for
      // N shingle rows); when any exist, their rows run through a SALTED
      // self-join — left side salted by pmod(xxhash64(id), nSalts), right
      // side replicated nSalts× — so a hot shingle's k² work spreads over
      // nSalts tasks, while cold shingles keep the plain join. Both legs
      // feed the same (id_a, id_b) count, so _i (and every jaccard) is
      // bit-identical to the unsalted join (spec-pinned in DedupSpec).
      // The corpus SFs have no hot shingles (max df 25 at sf0.1), so the
      // bench path is the r13 plan plus one small probe aggregate.
      // Cap calibration (ProbeHotShingle): the guard's fixed cost is two
      // extra passes over the cached shingle frame + the salt fan, and at
      // df ≤ ~4k the quadratic output itself dominates BOTH paths (k=4000
      // measured plain 6.05 s vs salted 7.59 s — parity-to-overhead), so
      // the default engages only where one task's df² row generation is
      // catastrophic (df 16384 → 2.7e8 rows in one task unsalted).
      val sconf = df.sparkSession.conf
      val hotCap = sconf.getOption("spark.graft.allpairs.hotDf")
        .orElse(sys.env.get("SPARK_GRAFT_ALLPAIRS_HOT_DF"))
        .map(_.toLong).getOrElse(16384L)
      val nSalts = sconf.getOption("spark.graft.allpairs.salts")
        .orElse(sys.env.get("SPARK_GRAFT_ALLPAIRS_SALTS"))
        .map(_.toInt).getOrElse(16)
      val hot = shingled.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") >= hotCap).select(col("shingle"))
        .localCheckpoint(eager = true)
      val a = shingled.select(col("shingle"), col(idCol).as("id_a"))
      val b = shingled.select(col("shingle"), col(idCol).as("id_b"))
      val hits =
        if (hot.isEmpty) a.join(b, Seq("shingle"))
        else {
          val coldHits = a.join(broadcast(hot), Seq("shingle"), "left_anti")
            .join(b.join(broadcast(hot), Seq("shingle"), "left_anti"),
              Seq("shingle"))
          val hotHits = a.join(broadcast(hot), Seq("shingle"), "left_semi")
            .withColumn("_sa", pmod(xxhash64(col("id_a")), lit(nSalts.toLong))
              .cast("int"))
            .join(b.join(broadcast(hot), Seq("shingle"), "left_semi")
              .withColumn("_sa", explode(sequence(lit(0), lit(nSalts - 1)))),
              Seq("shingle", "_sa"))
            .drop("_sa")
          coldHits.unionByName(hotHits)
        }
      hits
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("_i"))
        .join(sizes.select(col(idCol).as("id_a"), col("_sn").as("_na")),
          Seq("id_a"))
        .join(sizes.select(col(idCol).as("id_b"), col("_sn").as("_nb")),
          Seq("id_b"))
        .withColumn("jaccard",
          col("_i").cast("double") / (col("_na") + col("_nb") - col("_i")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    } else {
      val dfreq = shingled.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
      val wDoc = Window.partitionBy(col(idCol)).orderBy(col("_df"), col("shingle"))
      val wN = Window.partitionBy(col(idCol))
      // ceil with a small negative epsilon: t*n for integer-valued t*n must
      // not round UP through float error (0.8*5 = 4.0000000000000002 would
      // otherwise shorten the prefix below the lossless bound).
      val prefLen = col("_n") - ceil(lit(threshold) * col("_n") - lit(1e-9)) + 1
      val pref = shingled.join(dfreq, Seq("shingle"))
        .withColumn("_n", count(lit(1)).over(wN))
        .withColumn("_rn", row_number().over(wDoc))
        .filter(col("_rn") <= prefLen && col("_df") > 1)
        .select(col("shingle"), col(idCol), col("_n"))
      val cand = pref.select(col("shingle"), col(idCol).as("id_a"), col("_n").as("_na"))
        .join(pref.select(col("shingle"), col(idCol).as("id_b"), col("_n").as("_nb")),
          Seq("shingle"))
        .filter(col("id_a") < col("id_b") &&
          least(col("_na"), col("_nb")) >=
            lit(threshold) * greatest(col("_na"), col("_nb")) - lit(1e-9))
        .select(col("id_a"), col("id_b")).distinct()
      verifyJaccard(cand, shingled, idCol, threshold)
    }
    expandPairs(repPairs, shingled.select(col(idCol)).distinct(), members, idCol)
  }

  /** Exact overlap-coefficient (containment) near-dup — doc-IN-doc
    * detection, the case Jaccard misses: a document wholly contained in a
    * much larger one has overlap |A∩B| / min(|A|,|B|) = 1.0 but Jaccard
    * ≈ |A|/|B| → 0. Training pipelines run this against quote-heavy and
    * concatenated-shard corpora where subset copies are the dominant
    * duplication mode.
    *
    * Lossless prefix filter, containment form (PPJoin's bound applied to
    * the SMALLER set): if overlap ≥ t then the smaller set S shares
    * ≥ t·|S| shingles, so at least one of S's first
    * `|S| - ceil(t·|S|) + 1` shingles (rarest-first order) appears in the
    * other doc's FULL set — hence candidates are prefix ⋈ full, never
    * full ⋈ full, and any shared shingle has df ≥ 2 so the df > 1 cut on
    * both sides is also lossless. Verification is exact on the full
    * shingle-set arrays. Same exact-dup collapse + checkpoint discipline
    * as [[minHashNearDup]].
    *
    * Output: (id_a, id_b, overlap) with id_a < id_b, overlap ≥ threshold,
    * rounded 4 dp. */
  def overlapPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = collapseExact(df, idCol, textCol).localCheckpoint(eager = false)
    val shingled = shingles(repDocsOf(df, members, idCol), idCol, textCol, shingleK)
      .localCheckpoint(eager = false)
    val dfreq = shingled.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val wDoc = Window.partitionBy(col(idCol)).orderBy(col("_df"), col("shingle"))
    val wN = Window.partitionBy(col(idCol))
    // Same epsilon discipline as ngramJaccardPairs: t*n that is integer-
    // valued must not round UP through float error.
    val prefLen = col("_n") - ceil(lit(threshold) * col("_n") - lit(1e-9)) + 1
    val indexed = shingled.join(dfreq, Seq("shingle"))
      .filter(col("_df") > 1)
      .withColumn("_n", count(lit(1)).over(wN))
      .withColumn("_rn", row_number().over(wDoc))
      .localCheckpoint(eager = false)
    val pref = indexed.filter(col("_rn") <= prefLen)
      .select(col("shingle"), col(idCol).as("_pid"), col("_n").as("_np"))
    val full = indexed.select(col("shingle"), col(idCol).as("_fid"), col("_n").as("_nf"))
    // Asymmetric cut (lossless): the containment bound needs only the
    // SMALLER set's prefix to hit the other's full set, so candidates
    // where the prefix side is the larger doc are redundant — the same
    // pair is generated with roles swapped. This stops every big doc's
    // prefix from pairing with the whole corpus.
    val cand = pref.join(full, Seq("shingle"))
      .filter(col("_pid") =!= col("_fid") && col("_np") <= col("_nf"))
      .select(least(col("_pid"), col("_fid")).as("id_a"),
        greatest(col("_pid"), col("_fid")).as("id_b"))
      .distinct()
    // Same dense-long-id set representation as [[verifyJaccard]]'s.
    val sets = idSets(shingled, idCol)
    val repPairs = cand
      .join(sets.select(col(idCol).as("id_a"), col("sset").as("set_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("sset").as("set_b")), Seq("id_b"))
      .withColumn("_i", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", col("_i").cast("double") /
        least(size(col("set_a")), size(col("set_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    expandPairs(repPairs, shingled.select(col(idCol)).distinct(), members, idCol)
      .withColumnRenamed("jaccard", "overlap")
  }

  // ---- Embedding-cosine near-dup ----

  /** Near-duplicate pairs over an embedding column via sign-LSH banding +
    * exact-cosine verification: two vectors are a pair iff they share at
    * least one band's full sign pattern AND their exact cosine >= threshold
    * (rounded to 6 dp on both engines, so the cut is identical).
    *
    * The hash family is random-hyperplane LSH with axis-aligned hyperplanes:
    * bit i of band j is `sign(v[j*r + i])` — i.e. sign(dot(v, e_i)), the
    * standard SimHash-for-cosine family with the basis vectors as the
    * (deterministic, engine-portable) hyperplanes. Recall/precision tune via
    * (bands, rowsPerBand) exactly as in textual LSH.
    *
    * Scale shape (same as [[minHashNearDup]]): banding is one narrow
    * projection + posexplode (bands× row growth of (id, 8-char key) pairs,
    * not vectors); candidates come from an equi-join on (band, key) — never
    * all-pairs; the verify join fetches the two vectors per surviving
    * candidate only. No windows, no driver state. */
  def embeddingNearDup(embeddings: DataFrame, idCol: String, vecCol: String,
                       bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    // Dimensions past the vector length read as '0' bits (ANSI-safe size
    // guard — a bare element_at would throw INVALID_ARRAY_INDEX under
    // Spark 4's default ANSI mode for bands*rowsPerBand > dim, where the
    // oracle's out-of-range NULL maps to '0').
    val bandKeys = array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        concat((0 until rowsPerBand).map { r =>
          val idx = j * rowsPerBand + r + 1
          when(size(col(vecCol)) >= idx &&
            element_at(col(vecCol), idx) >= 0, lit("1")).otherwise(lit("0"))
        }: _*).as("bk"))
    }: _*)
    val banded = embeddings
      .select(col(idCol), explode(bandKeys).as("b"))
      .select(col(idCol), col("b.band").as("band"), col("b.bk").as("bk"))
    val cand = banded.select(col("band"), col("bk"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("bk"), col(idCol).as("id_b")),
        Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val vecs = embeddings.select(col(idCol), col(vecCol))
    cand
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("_va")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("_vb")), Seq("id_b"))
      .withColumn("sim", round(Similarity.cosine(col("_va"), col("_vb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Benchmark decontamination — the train/test-leakage check every
    * training-data pipeline runs before a model sees the corpus: for each
    * corpus doc, how many of its distinct word n-grams also occur in the
    * benchmark set, and what share of the doc that is.
    *
    * Scale shape — ONE shuffle total: per-doc distinct grams are computed
    * ARRAY-LOCALLY (`array_distinct`, no distinct shuffle), exploded, and
    * marked against the BROADCAST benchmark gram set (eval suites are tiny
    * relative to training corpora) with a left-outer hash join; a single
    * map-side-combined hash aggregate on the doc id then counts total and
    * hit grams together. The 100-TB corpus never shuffles on the gram key.
    * Docs shorter than n tokens have no grams and are (by definition)
    * uncontaminated — they do not appear in the output, mirroring the
    * oracle.
    *
    * Output: (idCol, n_grams, n_overlap, contamination ∈ [0,1], 4 dp). */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    def distinctGrams(df: DataFrame) = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(array_distinct(TextAnalysis.gramArray(col("_toks"), n)))
          .as("shingle"))
    val bg = distinctGrams(bench).select(col("shingle")).distinct()
      .withColumn("_hit", lit(1))
    distinctGrams(corpus)
      .join(broadcast(bg), Seq("shingle"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_overlap"))
      .select(col(idCol), col("n_grams"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_grams"), 4)
          .as("contamination"))
  }

  /** Bloom-prefiltered benchmark decontamination — [[decontaminate]]'s
    * semantics for when the benchmark gram set outgrows a cheap per-gram
    * broadcast join: the bench grams are compacted into an mBits-bit
    * Bloom bitset ([[graft.functions.Bloom]], bounded driver metadata of
    * mBits/64 longs), membership-tested ARRAY-LOCALLY per document, and
    * only Bloom-POSITIVE grams are exploded into the exact broadcast
    * verify join. A Bloom filter has no false negatives, so the verified
    * result is EXACT — identical to [[decontaminate]] by construction
    * (spec-pinned); false positives only cost extra verify-join rows.
    *
    * Scale shape: the per-doc total gram count is computed array-locally
    * (`size(array_distinct(...))`, no explode), the corpus explodes only
    * candidate grams (contamination is rare, so candidates ≪ grams), and
    * the one shuffle is the per-doc hash aggregate. At 100 TB this is the
    * difference between exploding every gram of the corpus through the
    * join and exploding a sliver. */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int, mBits: Int = 1 << 16,
                         kHashes: Int = 4): DataFrame = {
    import graft.functions.Bloom
    def gramsOf(df: DataFrame) = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        array_distinct(TextAnalysis.gramArray(col("_toks"), n)).as("_grams"))
    // Materialized once (bench-set sized, the same order the broadcast
    // ships anyway): consumed TWICE — the Bloom build aggregate and the
    // exact-verify broadcast — and the tokenize+distinct recompute was
    // measured as a third of this query's budget.
    val benchGrams = gramsOf(bench)
      .select(explode(col("_grams")).as("shingle")).distinct()
      .localCheckpoint()
    val bits = Bloom.build(benchGrams, "shingle", mBits, kHashes)
    val bg = benchGrams.withColumn("_hit", lit(1))
    // Native candidate filter (graft.functions.BloomCandidates, padEmpty):
    // the HOF form `filter(_grams, s => mightContain(...))` evaluated
    // interpreted per gram, and the row-survival `filter(n_grams > 0)` +
    // explode_outer pair predicate-pushed the whole interpreted gram
    // pipeline into the single-partition scan — together 7x this query's
    // budget at sf0.1. padEmpty folds survival into the expression: [] for
    // gramless docs (explode drops), [null] sentinel for zero-candidate
    // docs (survives; null joins nothing, counting 0 hits). No Filter
    // node, nothing to push, one pass over the grams.
    gramsOf(corpus)
      .select(col(idCol), size(col("_grams")).cast("bigint").as("n_grams"),
        explode(graft.functions.BloomCandidates(col("_grams"), bits, mBits,
          kHashes, padEmpty = true)).as("shingle"))
      .join(broadcast(bg), Seq("shingle"), "left_outer")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(col("_hit")).as("n_overlap"))
      .select(col(idCol), col("n_grams"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("n_grams"), 4)
          .as("contamination"))
  }

  /** Connected components over an undirected pair graph — min-label
    * propagation to a fixpoint. Near-dup PAIRS are only half the dedup
    * story: keeping one doc per near-dup CLUSTER needs the transitive
    * closure (a~b, b~c ⇒ one cluster {a,b,c}), or chained duplicates
    * survive pairwise filtering.
    *
    * Scale shape: each round is one edges × labels equi-join plus one
    * map-side-combined min aggregate (partial agg collapses to node grain
    * before the exchange). The labels frame is node-count sized and the
    * edge list is output-linear from LSH banding; when the node set is
    * small the labels side BROADCASTS (size-switched on the measured node
    * count — checkpointed frames carry no stats, so AQE cannot make this
    * call itself) and the materialized edge blocks never re-shuffle across
    * rounds. Rounds needed = component DIAMETER — near-dup clusters are
    * dense (quasi-cliques), so 2-3 rounds in practice; `maxIter` guards
    * adversarial chains (a path graph needs O(n) rounds — at web scale with
    * long chains, switch to large-star/small-star to bound rounds by
    * O(log n)). Per-round `localCheckpoint` cuts the exponentially-growing
    * lineage; the driver sees only a converged flag per round (a scalar),
    * never data.
    *
    * Returns (node, label): every endpoint with the minimum id reachable
    * from it — the component's canonical id.
    *
    * Contract: `aCol` and `bCol` must have the same data type — both
    * endpoints land in the one node column. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame = {
    val (aType, bType) = (pairs.schema(aCol).dataType, pairs.schema(bCol).dataType)
    require(aType == bType, s"connectedComponents: $aCol ($aType) and $bCol " +
      s"($bType) must have the same data type")
    // r14 OPT (guide §5 reuse): the bidirectional edge list is built by
    // EXPLODING each pair into its two directions in one pass — the old
    // union of two projections referenced the un-materialized `pairs`
    // subtree twice, so the caller's whole pair pipeline (LSH candidates +
    // exact verify for x25/x29/x42/m5, the fuzzy-linkage block join for
    // x97-style callers) executed TWICE inside this checkpoint job.
    // Same row multiset, so distinct/CC output is unchanged.
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .distinct()
      .localCheckpoint() // reused every round: scan a materialized edge list
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    // Count on already-materialized blocks: one cheap job, decides the
    // per-round join strategy for the whole loop.
    val bcastLabels = labels.count() <= 2000000L
    def lSide(df: DataFrame): DataFrame = if (bcastLabels) broadcast(df) else df
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Push every node's label to its neighbors; keep the per-node min of
      // (own label, neighbor labels). The own label rides the same
      // aggregate (tagged rows), so convergence is a filter probe on the
      // checkpointed round result — no extra join per round.
      val prop = edges.join(lSide(labels), edges("src") === labels("node"))
        .select(edges("dst").as("node"), col("label"))
      val merged = labels.withColumn("_own", lit(1))
        .union(prop.withColumn("_own", lit(0)))
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"),
          min(when(col("_own") === 1, col("label"))).as("_prev"))
        .localCheckpoint()
      converged = merged.filter(col("label") < col("_prev")).isEmpty
      labels = merged.select(col("node"), col("label"))
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (the Kiveris et al. "Connected Components in MapReduce and Beyond"
    * scheme): each round re-hangs every node under the minimum of its
    * neighborhood, contracting components regardless of their DIAMETER —
    * convergence in O(log n) rounds even on a path graph, where
    * [[connectedComponents]]' min-label propagation needs diameter rounds
    * (O(n) on that same path). The per-round cost is the same shape: one
    * groupBy-min on the node key plus one equi-join, every frame
    * edge-count sized, `localCheckpoint` per round to cut lineage.
    *
    *  - large-star(u): connect every neighbor v > u to
    *    m(u) = min(N(u) ∪ {u}) — every undirected edge is seen from its
    *    smaller endpoint, so the emitted set covers the whole graph;
    *  - small-star(u): over edges hung at their larger endpoint, connect
    *    every smaller neighbor (and u itself) to m(u).
    *
    * Fixpoint = a star forest in canonical (root, member) form; same
    * output contract as [[connectedComponents]]: (node, label = component
    * min id). Prefer this variant when components can be long chains
    * (link graphs, co-occurrence chains); near-dup clusters are dense
    * quasi-cliques where propagation's 2-3 rounds win on constants. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 30): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    var edges = canon(pairs.select(col(aCol).as("u"), col(bCol).as("v")))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Large-star over the both-direction view (center, nbr).
      val both = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        .select(col("u").as("center"), col("v").as("nbr"))
      val mins = both.groupBy(col("center")).agg(min(col("nbr")).as("_mn"))
        .select(col("center"), least(col("_mn"), col("center")).as("m"))
      val afterLarge = canon(both.join(mins, "center")
        .filter(col("nbr") > col("center"))
        .select(col("nbr").as("u"), col("m").as("v")))
        .localCheckpoint()
      // Small-star over edges hung at their larger endpoint: canonical
      // (u=lo, v=hi) read as (center = v, nbr = u).
      val directed = afterLarge.select(col("v").as("center"), col("u").as("nbr"))
      val mins2 = directed.groupBy(col("center")).agg(min(col("nbr")).as("m"))
      val joined = directed.join(mins2, "center")
      val afterSmall = canon(
        joined.filter(col("nbr") =!= col("m"))
          .select(col("nbr").as("u"), col("m").as("v"))
          .union(mins2.select(col("center").as("u"), col("m").as("v"))))
        .localCheckpoint()
      // Converged when the canonical edge set is unchanged: counts match
      // and nothing in the new set is absent from the old (driver sees two
      // scalars, never data).
      converged = afterSmall.count() == edges.count() &&
        afterSmall.exceptAll(edges).isEmpty
      edges = afterSmall
      iter += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
    // Star fixpoint in canonical form: u is the component root, v a member.
    edges.select(col("v").as("node"), col("u").as("label"))
      .union(edges.select(col("u").as("node"), col("u").as("label")))
      .distinct()
  }

  /** INCREMENTAL component maintenance — the cluster-side completion of
    * the incremental near-dup column (x38/s12 maintain the PAIR stream
    * incrementally; this maintains the LABELS): given `existing`, a valid
    * [[connectedComponents]] labeling (node, label = component min id) of
    * the pairs seen so far, and `newPairs`, a new batch of edges (e.g.
    * one [[incrementalNearDup]] emission), produce the labeling of the
    * UNION graph — equal to re-running connectedComponents from scratch
    * over all pairs (scalacheck split-equivalence pinned) — while only
    * ever computing on the TOUCHED part of the graph.
    *
    * Merge-then-relabel: each new edge's endpoints CONTRACT to their
    * existing component labels (themselves when unseen), connected
    * components runs on that contracted graph — batch-sized, never the
    * corpus: old components are single contracted nodes — and the result
    * relabels only the components it touched. Min-label propagation over
    * min-id labels keeps the invariant: the merged component's new label
    * is the min id across every member component, so outputs compose
    * across any batch sequence.
    *
    * Scale shape: `existing` is never shuffled — its two appearances are
    * (a) a broadcast-semi-join label extraction for the batch's endpoints
    * and (b) a broadcast-hash relabel join against the (tiny) contracted
    * component map; both single scans. The CC loop runs on a frame
    * bounded by the BATCH's edge count. At 100 TB the labeling lives in
    * a parquet table and (b)'s output upserts only changed rows. */
  def mergeComponents(existing: DataFrame, newPairs: DataFrame,
                      aCol: String, bCol: String,
                      maxIter: Int = 20): DataFrame = {
    // r13 OPT: no checkpoint — both callers (x157's fold, s40's batch
    // runner) pass an eagerly checkpointed pair frame, so the two
    // derivations below are scans of cached blocks; the old eager
    // checkpoint here was one extra job per batch for a batch-bounded
    // frame that is only read twice.
    val ends = newPairs.select(col(aCol).as("node"))
      .union(newPairs.select(col(bCol).as("node")))
      .distinct()
    // Labels of the touched endpoints only: one broadcast-semi scan of
    // existing, never a shuffle of it.
    val touched = existing.select(col("node"), col("label"))
      .join(broadcast(ends), Seq("node"), "left_semi")
      .localCheckpoint()
    val contracted = newPairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .join(broadcast(touched.select(col("node").as("_a"),
        col("label").as("_la"))), Seq("_a"), "left_outer")
      .join(broadcast(touched.select(col("node").as("_b"),
        col("label").as("_lb"))), Seq("_b"), "left_outer")
      .select(coalesce(col("_la"), col("_a")).as("la"),
        coalesce(col("_lb"), col("_b")).as("lb"))
      .filter(col("la") =!= col("lb"))
    // CC over the contracted graph: nodes are old component labels and
    // brand-new ids; min-label = min id of the merged component.
    val cc = connectedComponents(contracted, "la", "lb", maxIter)
    val newNodes = ends // anti vs touched ≡ anti vs existing (touched = existing ∩ ends)
      .join(touched.select(col("node")), Seq("node"), "left_anti")
    val relabeled = existing
      .join(broadcast(cc.select(col("node").as("label"),
        col("label").as("_nl"))), Seq("label"), "left_outer")
      .select(col("node"), coalesce(col("_nl"), col("label")).as("label"))
    // A new node always reaches the contracted CC (its own contracted id
    // is itself, and no existing component is labeled by a new id), so
    // the left join below never misses — coalesce is the unpaired-new-
    // node guard only for callers feeding pairs with a == b.
    val newLabeled = newNodes
      .join(broadcast(cc), Seq("node"), "left_outer")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    relabeled.unionByName(newLabeled)
  }

  /** Near-dup CLUSTER assignment over documents: MinHash+LSH pairs
    * ([[minHashNearDup]]) → connected components → every doc labeled with
    * its cluster id (the component's min doc id; itself when it has no
    * near-dup), plus keep=1 on the canonical representative — the row set a
    * dedup pass would retain. */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      shingleK: Int, threshold: Double): DataFrame = {
    val pairs = minHashNearDup(docs, idCol, textCol, shingleK, threshold)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    labelClusters(docs, comps, idCol)
  }

  /** [[nearDupClusters]] through [[connectedComponentsStar]] — identical
    * output, diameter-independent round count. */
  def nearDupClustersStar(docs: DataFrame, idCol: String, textCol: String,
                          shingleK: Int, threshold: Double): DataFrame = {
    val pairs = minHashNearDup(docs, idCol, textCol, shingleK, threshold)
    val comps = connectedComponentsStar(pairs, "id_a", "id_b")
    labelClusters(docs, comps, idCol)
  }

  /** Quality-aware canonical selection — which member of each near-dup
    * cluster SURVIVES into the training set. [[nearDupClusters]] keeps the
    * min-id member (deterministic but arbitrary); production pipelines
    * keep the best member by some score (longest, highest quality — the
    * FineWeb/SemDeDup survivor policy). One window over the cluster
    * partition: rank by score desc with the id tie-break, keep rank 1.
    *
    * Scale shape: one shuffle on cluster_id (clusters are near-dup groups
    * — small and numerous, never skewed beyond true duplication), after
    * the score equi-join on the id. Output: (idCol, clusterCol, scoreCol,
    * keep_best 0/1) — exactly one keep per cluster. */
  def keepBestPerCluster(clusters: DataFrame, idCol: String, clusterCol: String,
                         scores: DataFrame, scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    clusters.select(col(idCol), col(clusterCol))
      .join(scores.select(col(idCol), col(scoreCol)), Seq(idCol))
      .withColumn("keep_best", (row_number().over(w) === 1).cast("int"))
  }

  /** SemDeDup-style SEMANTIC dedup over embeddings: where
    * [[nearDupClusters]] collapses lexical near-copies, this collapses
    * vectors that are semantically interchangeable — pairs from
    * [[embeddingNearDup]] (sign-LSH banding + exact-cosine verify, never
    * all-pairs) fed through the same [[connectedComponents]] closure, then
    * every vector labeled with its semantic cluster id (component min id;
    * itself when it has no semantic twin) and keep=1 on the canonical
    * representative — the row set a semantic-dedup pass retains.
    *
    * Scale shape inherits from its two parts: output-linear LSH pair
    * expansion + diameter-bounded min-label propagation; the final labeling
    * is one left-outer equi-join against the node-count-sized components
    * frame. */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val pairs = embeddingNearDup(embeddings, idCol, vecCol, bands, rowsPerBand,
      threshold)
    val comps = connectedComponents(pairs, "id_a", "id_b")
    labelClusters(embeddings, comps, idCol)
  }

  /** DBSCAN-style DENSITY clustering over the LSH bucket graph (Ester et
    * al. 1996, with the ε-neighborhood realized as the sign-LSH candidate
    * graph + exact-cosine verify — the r11 verdict's named open seat):
    * where [[semanticDedup]] calls every connected blob one cluster and
    * k-means forces every point into SOME cluster, DBSCAN separates the
    * three roles a curation pipeline actually treats differently —
    * CORE points (≥ minPts−1 verified neighbors) define dense regions,
    * clusters are the connected components of the core-core subgraph
    * (min-core-id labeled), BORDER points attach to their minimum
    * adjacent core cluster without bridging clusters together, and NOISE
    * (everything else) is the long tail no density region claims. A
    * border doc between two dense regions does NOT merge them — the
    * chaining failure mode of plain CC dedup at loose thresholds.
    *
    * Determinism: the neighborhood graph is [[embeddingNearDup]]'s exact
    * arithmetic (6 dp cosine cut); roles are integer degree compares;
    * labels are min-ids; border assignment is a min over adjacent core
    * labels. No randomness anywhere (classic DBSCAN's visit-order
    * sensitivity for border points is resolved by the min rule).
    *
    * Scale shape: the pair graph comes from banded LSH (never all-pairs);
    * the doubled edge list materializes ONCE (localCheckpoint — it feeds
    * degrees, the core-core restriction, and border assignment); CC runs
    * on the core-core SUBGRAPH (smaller than the full pair graph); the
    * final labeling is two left joins of pair-graph-sized frames onto the
    * corpus — broadcast when small, plain hash joins at scale. */
  def dbscanLsh(embeddings: DataFrame, idCol: String, vecCol: String,
                bands: Int, rowsPerBand: Int, eps: Double,
                minPts: Int): DataFrame = {
    val pairs = embeddingNearDup(embeddings, idCol, vecCol, bands,
      rowsPerBand, eps)
    // r14 OPT: one-pass explode instead of a union that re-executed the
    // whole embeddingNearDup pipeline twice (see connectedComponents).
    val e = pairs
      .select(explode(array(
        struct(col("id_a").as("_a"), col("id_b").as("_b")),
        struct(col("id_b").as("_a"), col("id_a").as("_b")))).as("_e"))
      .select(col("_e._a").as("_a"), col("_e._b").as("_b"))
      .localCheckpoint(eager = true) // degrees + core-core + border reads
    val core = e.groupBy(col("_a"))
      .agg(count(lit(1)).as("_nb"))
      .where(col("_nb") >= minPts - 1)
      .select(col("_a").as("_core"))
      .localCheckpoint(eager = true) // membership probed from three sides
    val coreEdges = e
      .join(core.select(col("_core").as("_a")), Seq("_a"))
      .join(core.select(col("_core").as("_b")), Seq("_b"))
    // An isolated core (every neighbor is border) never enters the
    // core-core edge list but still seeds its own singleton cluster.
    val comp = core
      .join(connectedComponents(coreEdges, "_a", "_b")
        .withColumnRenamed("node", "_core"), Seq("_core"), "left_outer")
      .select(col("_core").as("node"),
        coalesce(col("label"), col("_core")).as("label"))
    val border = e
      .join(core.select(col("_core").as("_b")), Seq("_b"))
      .join(comp.select(col("node").as("_b"), col("label")), Seq("_b"))
      .join(core.select(col("_core").as("_a"), lit(1).as("_isCore")),
        Seq("_a"), "left_anti")
      .groupBy(col("_a"))
      .agg(min(col("label")).as("_blabel"))
    embeddings.select(col(idCol))
      .join(comp.select(col("node").as(idCol), col("label").as("_clabel")),
        Seq(idCol), "left_outer")
      .join(border.select(col("_a").as(idCol), col("_blabel")),
        Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("_clabel").isNotNull, lit("core"))
          .when(col("_blabel").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("_clabel"), col("_blabel")).as("cluster_id"))
  }

  /** Shared tail of the cluster operators: label every row with its
    * component's min id (itself when unpaired), keep=1 on the canonical.
    * Public so incremental maintainers ([[mergeComponents]] folds) can
    * project the same (id, cluster_id, keep) read as the one-shot ops. */
  def labelClusters(rows: DataFrame, comps: DataFrame,
                    idCol: String): DataFrame =
    rows.select(col(idCol))
      .join(comps, rows(idCol) === comps("node"), "left_outer")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
      .withColumn("keep", (col(idCol) === col("cluster_id")).cast("int"))

  /** Exact repeated-SUBSTRING detection — the suffix-array dedup criterion
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): every doc pair sharing a VERBATIM substring of
    * length >= `minLen`, with how many distinct length-`minLen` windows
    * they share. Lossless reduction: a shared substring of length >= L
    * implies a shared length-L window, so stride-1 windows are hashed
    * (md5 — the 128-bit width is the collision-safety margin, and the
    * oracle hashes identically so both engines bucket the same) and pairs
    * form ONLY inside equal-hash buckets — an equi-self-join, never
    * all-pairs.
    *
    * Scale shape: window generation is array-local per doc (no explode
    * until the windows are DISTINCT per doc, so self-repeated boilerplate
    * contributes once); the shuffle carries (16-byte hash, id) rows —
    * linear in corpus bytes, embarrassingly parallel. A window shared by B
    * docs expands to B(B-1)/2 pairs — output-inherent (those pairs ARE the
    * answer). When even stride-1 generation is too hot, winnowing (keep
    * the min hash of every w consecutive windows) is the documented knob:
    * detection stays guaranteed for shares >= w + L - 1. */
  def substringPairs(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int): DataFrame = {
    val t = col(textCol)
    val wins = when(length(t) >= minLen,
      transform(sequence(lit(1), length(t) - (minLen - 1)),
        i => md5(t.substr(i, lit(minLen)))))
      .otherwise(array().cast("array<string>"))
    val w = docs.select(col(idCol).as("_id"),
      explode(array_distinct(wins)).as("_h"))
    w.as("a").join(w.as("b"),
        col("a._h") === col("b._h") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Winnowed substring-pair detection — [[substringPairs]]' documented
    * scale knob made real (Schleimer, Wilkerson, Aiken 2003 "Winnowing:
    * Local Algorithms for Document Fingerprinting"): instead of shipping
    * EVERY stride-1 window hash to the join, each doc keeps only the
    * lexicographic-min hash of every `window` consecutive hashes — the
    * winnowing fingerprint set, ~2/(w+1) of the full set. Because any two
    * docs sharing a verbatim run of >= `minLen + window - 1` chars share a
    * FULL window of hashes, they select the same min — detection is
    * GUARANTEED at that length (the winnowing theorem), below it
    * best-effort. Both engines take the min over identical lowercase-hex
    * md5 strings under binary collation, so fingerprint selection is
    * engine-portable and the oracle is exact.
    *
    * Scale shape: hash generation AND fingerprint selection are
    * array-local per doc (sliding `array_min` over the hash array — no
    * per-position explode, no window function, no per-doc sort shuffle);
    * only the ~w-fold-smaller distinct fingerprint set explodes into the
    * hash-grain equi-self-join. Docs shorter than one full hash window
    * keep the min of what they have, so every doc stays represented.
    *
    * Output: (id_a, id_b, n_shared_fp) — pairs sharing >= 1 fingerprint
    * and how many they share. */
  def winnowedSubstringPairs(docs: DataFrame, idCol: String, textCol: String,
                             minLen: Int, window: Int): DataFrame = {
    val t = col(textCol)
    // The hash array MUST materialize in its own projection before the
    // sliding-min pass references it: higher-order functions are
    // interpreted, so with the generator inlined into the lambda each
    // position p would re-run the WHOLE m-hash transform — O(m²) md5s
    // (measured 117 s vs 1.5 s at sf0.1). As a multiply-referenced
    // non-cheap alias it survives CollapseProject, so each row hashes
    // once and the sliding min touches only the computed array.
    val hsExpr = when(length(t) >= minLen,
      transform(sequence(lit(1), length(t) - (minLen - 1)),
        i => md5(t.substr(i, lit(minLen)))))
      .otherwise(array().cast("array<string>"))
    val staged = docs.select(col(idCol).as("_id"), hsExpr.as("_hs"))
    val hs = col("_hs")
    val fps = when(size(hs) >= 1,
      array_distinct(transform(
        sequence(lit(1), greatest(size(hs) - (window - 1), lit(1))),
        p => array_min(slice(hs, p, lit(window))))))
      .otherwise(array().cast("array<string>"))
    val f = staged.select(col("_id"), explode(fps).as("_h"))
    f.as("a").join(f.as("b"),
        col("a._h") === col("b._h") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Pair-set evaluation — the "measure, don't guess" harness for the
    * approximate dedup family: given an APPROXIMATE pair frame (LSH
    * banding, winnowing, any candidate-limited detector) and the EXACT
    * ground truth at the same semantics, report hit/size counts and
    * precision/recall. This is the number you read before widening bands
    * or shrinking rows-per-band: recall says what the candidate
    * generation missed, precision stays 1.0 whenever the approximate path
    * exact-verifies its candidates (a drop below 1.0 means the verify
    * step itself diverged — a bug, not a tuning issue).
    *
    * Scale shape: both inputs are output-scale pair frames (the
    * duplication found, not the corpus); one broadcast-sized semi-join
    * and three 1-row aggregates combined by broadcast cross-join — no
    * corpus data moves. Output: one row (n_exact, n_approx, n_hit,
    * precision, recall), ratios rounded 4 dp. */
  def pairSetEval(approx: DataFrame, exact: DataFrame,
                  idACol: String, idBCol: String): DataFrame = {
    val a = approx.select(col(idACol), col(idBCol))
    val e = exact.select(col(idACol), col(idBCol))
    val nA = a.agg(count(lit(1)).as("n_approx"))
    val nE = e.agg(count(lit(1)).as("n_exact"))
    val nH = a.join(e, Seq(idACol, idBCol), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nE.crossJoin(broadcast(nA)).crossJoin(broadcast(nH))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        round(when(col("n_approx") === 0L, 1.0)
          .otherwise(col("n_hit").cast("double") / col("n_approx")), 4)
          .as("precision"),
        round(when(col("n_exact") === 0L, 1.0)
          .otherwise(col("n_hit").cast("double") / col("n_exact")), 4)
          .as("recall"))
  }

  /** Record-linkage blocking + edit-distance verify: candidate entity
    * pairs come ONLY from equal blocking keys (an equi-self-join — the
    * classic blocking step that makes fuzzy matching sub-quadratic), then
    * survive iff `levenshtein <= maxDist`. The blocking key is PART of the
    * operator's contract — pairs differing in the key are out of scope by
    * definition (standard record-linkage recall trade; pick keys like
    * normalized prefixes or phonetic codes to taste), which is what keeps
    * the oracle exact rather than heuristic.
    *
    * Scale shape: one shuffle on the block key; per-block work is
    * |block|² edit distances — bounded by the key's selectivity, the
    * operator's one tuning obligation (a degenerate constant key
    * reintroduces all-pairs; the spec pins a multi-block fixture). */
  def blockedEditDistancePairs(entities: DataFrame, idCol: String,
                               nameCol: String, blockKey: Column,
                               maxDist: Int): DataFrame = {
    val e = entities.select(col(idCol).as("_id"), col(nameCol).as("_name"),
      blockKey.as("_blk"))
    e.as("a").join(e.as("b"),
        col("a._blk") === col("b._blk") && col("a._id") < col("b._id"))
      .withColumn("dist",
        levenshtein(col("a._name"), col("b._name")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"), col("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Record-linkage blocking + Jaro–Winkler verify —
    * [[blockedEditDistancePairs]]'s similarity-scored sibling: edit
    * distance counts raw operations (so a transposed pair costs as much
    * as two unrelated edits, and long strings absorb more edits for
    * free), while Jaro–Winkler normalizes to [0, 1], half-credits
    * transpositions, and boosts shared prefixes — the convention for
    * NAME/TITLE matching. Scoring runs through the native codegen'd
    * [[graft.functions.JaroWinkler]] expression, never a UDF.
    *
    * Same scale contract: candidates ONLY within equal block keys — the
    * join is an equi-join on the block, never all-pairs; the blocking
    * key is part of the operator's contract. */
  def blockedJaroWinklerPairs(entities: DataFrame, idCol: String,
                              nameCol: String, blockKey: Column,
                              minSim: Double): DataFrame = {
    val e = entities.select(col(idCol).as("_id"), col(nameCol).as("_name"),
      blockKey.as("_blk"))
    e.as("a").join(e.as("b"),
        col("a._blk") === col("b._blk") && col("a._id") < col("b._id"))
      .withColumn("jw", round(graft.functions.JaroWinkler(
        col("a._name"), col("b._name")), 6))
      .filter(col("jw") >= minSim)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"), col("jw"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact duplicated-SPAN removal — the acting half of [[substringPairs]]'
    * detection (Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" §4: dedup the repeated SPANS, not whole
    * docs): every character covered by a verbatim >= `spanLen`-char
    * window that also occurs in ANOTHER document is removed; the cleaned
    * text is the uncovered characters concatenated in order. Single-pass
    * contract (also per the paper): removal is computed against the
    * ORIGINAL corpus — newly adjacent characters are not re-scanned.
    *
    * Scale shape: window hashes generate ARRAY-LOCALLY (stride-1 md5s,
    * the x49 machinery) and shuffle ONCE at hash grain for the
    * distinct-doc count; the duplicated-hash set is output-scale (shared
    * spans only), rejoined at hash grain; per-doc coverage and cleanup
    * are array-local over the doc's own duplicated-start list, and docs
    * with no shared span pass through a left-outer miss untouched. The
    * corpus never self-joins and nothing quadratic materializes.
    *
    * Output: (idCol, clean_text, n_kept, n_removed), one row per doc. */
  /** Cross-source contamination matrix: for each unordered pair of sources,
    * how many distinct content fingerprints they share — the corpus-level
    * report that tells you WHICH feeds re-serve each other's content
    * (mirror sites, syndication, benchmark leakage between collections)
    * before any row-level dedup decision is made.
    *
    * Scale shape — never a fingerprint self-join (whose output is quadratic
    * in duplicate-group size): one aggregation to (fingerprint → sorted
    * distinct source set), then pairs are expanded ARRAY-LOCALLY with
    * `transform × slice` (j > i keeps each pair once) and re-aggregated.
    * The expansion per fingerprint is bounded by the SOURCE DICTIONARY
    * (≤ |sources|²/2, independent of row count), and fingerprints seen by
    * one source only are dropped before any expansion.
    *
    * Output: `(src_a, src_b, shared_fps)` with src_a < src_b. */
  def sourceOverlapMatrix(docs: DataFrame, fingerprint: Column,
                          sourceCol: String): DataFrame =
    sharedKeyPairCounts(docs, fingerprint, col(sourceCol), Int.MaxValue)
      .select(col("id_a").as("src_a"), col("id_b").as("src_b"),
        col("n_shared").as("shared_fps"))

  /** The shared-key pair counter both overlap reports ride: members
    * sharing a key pair up (unordered, a < b), counted per pair across
    * keys. Keys held by more than `maxMembers` members are DROPPED first
    * — the boilerplate guard that bounds the quadratic expansion (a key
    * in m members yields m·(m-1)/2 pairs; super-common keys carry no
    * dedup signal and would dominate the output).
    *
    * Scale shape: one aggregation to (key → sorted distinct member set),
    * pairs expanded ARRAY-LOCALLY with transform × slice (never a
    * self-join), one pair-grain agg. */
  def sharedKeyPairCounts(df: DataFrame, keyCol: Column, memberCol: Column,
                          maxMembers: Int): DataFrame = {
    val mbrs = col("_mbrs")
    df.select(keyCol.as("_k"), memberCol.as("_mbr"))
      .groupBy(col("_k"))
      .agg(sort_array(collect_set(col("_mbr"))).as("_mbrs"))
      .filter(size(mbrs) > 1 && size(mbrs) <= maxMembers)
      .select(explode(flatten(transform(mbrs, (a, i) =>
        transform(slice(mbrs, i + lit(2), size(mbrs)), b =>
          struct(a.as("a"), b.as("b")))))).as("_p"))
      .select(col("_p.a").as("id_a"), col("_p.b").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
  }

  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            spanLen: Int): DataFrame = {
    val t = col(textCol)
    val winsCol = when(length(t) >= spanLen,
      transform(sequence(lit(1), length(t) - (spanLen - 1)),
        p => struct(p.as("p"), md5(t.substr(p, lit(spanLen))).as("h"))))
      .otherwise(array().cast("array<struct<p:int,h:string>>"))
    val wins = docs.select(col(idCol).as("_id"), explode(winsCol).as("_w"))
      .select(col("_id"), col("_w.p").as("_p"), col("_w.h").as("_h"))
    val duph = wins.groupBy(col("_h"))
      .agg(countDistinct(col("_id")).as("_nd"))
      .filter(col("_nd") >= 2)
      .select(col("_h"))
    val dupStarts = wins.join(duph, Seq("_h"))
      .groupBy(col("_id"))
      .agg(sort_array(collect_set(col("_p"))).as("_ps"))
    docs.select(col(idCol), t.as("_text"))
      .join(dupStarts, col(idCol) === col("_id"), "left_outer")
      .withColumn("clean_text",
        when(col("_ps").isNull, col("_text")).otherwise(expr(
          "concat_ws('', transform(filter(sequence(1, length(_text)), " +
            s"j -> NOT exists(_ps, p -> j >= p AND j < p + $spanLen)), " +
            "j -> substring(_text, j, 1)))")))
      .select(col(idCol), col("clean_text"),
        length(col("clean_text")).cast("long").as("n_kept"),
        (length(col("_text")) - length(col("clean_text"))).cast("long")
          .as("n_removed"))
  }

  /** IDF-weighted token-set Jaccard over a candidate pair list — the
    * rarity-aware verify the distinct-set scorers miss: plain Jaccard
    * weighs "the"-class tokens and content words equally, so two docs
    * sharing only boilerplate can outscore a pair sharing rare
    * identifiers. Here every token carries idf = ln((N+1)/(df+1)) + 1
    * (smoothed, rounded 6 dp — the two-stage summation convention) and
    * wJ = Σ_{t∈A∩B} idf / Σ_{t∈A∪B} idf over DISTINCT tokens; the plain
    * Jaccard rides along so the gap itself is the boilerplate read (a
    * pair whose wjaccard craters below its jaccard shares mostly
    * stopword-grade mass).
    *
    * Scale shape: the df table is one corpus pass at distinct
    * (doc, token) grain — inherent to IDF and already the x67 budget,
    * shuffling token keys only; everything pair-ward is then the family
    * discipline — token sets prune to pair ENDPOINTS (broadcast
    * semi-join), idf attaches via a vocab-grain equi-join (AQE-sized,
    * not forced broadcast: a 100 TB vocabulary outgrows a broadcast
    * budget), per-doc weight sums land at endpoint grain, and the
    * intersection is `pairs ⋈ tokens_a ⋈ tokens_b` on (pair, token)
    * keys. Cost past the df pass is Σ_pairs |tokens| — output-scale. */
  def weightedJaccardPairs(docs: DataFrame, pairs: DataFrame,
                           idCol: String, textCol: String): DataFrame = {
    val dt = docs.select(col(idCol), explode(array_distinct(
      TextAnalysis.tokens(col(textCol)))).as("_w"))
    val nRow = docs.agg(count(lit(1)).cast("long").as("_N"))
    val idf = dt.groupBy(col("_w"))
      .agg(count(lit(1)).cast("long").as("_df"))
      .crossJoin(broadcast(nRow))
      .select(col("_w"),
        round(log((col("_N") + 1.0) / (col("_df") + 1.0)) + 1.0, 6)
          .as("_idf"))
    val ep = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    // r13 OPT: dte feeds THREE consumers (dw, and both sides of pi);
    // without a materialization each replans the corpus token explode +
    // the vocabulary-wide idf aggregate — the x114 replay waste, 3 full
    // corpus passes for 1. Endpoint-token grain: bounded by the pair set.
    val dte = dt.join(broadcast(ep), Seq(idCol), "left_semi")
      .join(idf, Seq("_w"))
      .localCheckpoint(eager = false)
    val dw = dte.groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("_nt"), sum(col("_idf")).as("_ws"))
    val pi = pairs.select(col("id_a"), col("id_b"))
      .join(dte.select(col(idCol).as("id_a"), col("_w"), col("_idf")),
        Seq("id_a"))
      .join(dte.select(col(idCol).as("id_b"), col("_w")), Seq("id_b", "_w"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"),
        sum(col("_idf")).as("_wi"))
    pairs.select(col("id_a"), col("id_b"))
      .join(pi, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("n_shared")).na.fill(0.0, Seq("_wi"))
      .join(dw.select(col(idCol).as("id_a"), col("_nt").as("_na"),
        col("_ws").as("_wa")), Seq("id_a"))
      .join(dw.select(col(idCol).as("id_b"), col("_nt").as("_nb"),
        col("_ws").as("_wb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("_na") + col("_nb") - col("n_shared")), 6).as("jaccard"),
        round(col("_wi") / (col("_wa") + col("_wb") - col("_wi")), 6)
          .as("wjaccard"))
  }
}
