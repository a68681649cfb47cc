package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Cols._

/** Deduplication operator family for LLM-training-data pipelines (builder
  * brief north star; no reference-repo analogue — the reference's closest op
  * is the group-by-count at README.md:149).
  *
  * Four tiers, in increasing tolerance:
  *  1. exact     — content-hash group-by ([[exactDedup]]);
  *  2. near      — MinHash-LSH banded candidates + exact-Jaccard verify
  *                 ([[nearDupPairs]]);
  *  3. fuzzy     — 64-bit SimHash with banded Hamming candidates
  *                 ([[simhashNearDup]]);
  *  4. semantic  — embedding-space sign-LSH + exact cosine verify
  *                 ([[embeddingNearDup]]).
  *
  * Scale design (the part that must survive 100 TB):
  *  - Nothing here is ever all-pairs. MinHash candidates come from a
  *    shuffle-join on (band, band-key) — cost O(docs × bands) rows
  *    exchanged, and only colliding buckets join. SimHash candidates come
  *    from grouping on 16-bit key chunks; sign-LSH from hyperplane bands.
  *  - Band geometry is tuned against the corpus's BACKGROUND similarity,
  *    not just the threshold (see [[nearDupPairs]]) — shallow bands on a
  *    self-similar corpus silently degenerate to all-pairs.
  *  - The shingle → minhash → band pipeline is ONE fused native Catalyst
  *    expression per document ([[graft.functions.MinHashBandsExpr]]) inside
  *    whole-stage codegen — the equivalent higher-order-function chain
  *    evaluates interpreted, and referencing a signature column from a
  *    banding lambda re-evaluates the signature once per band.
  *  - Skew: duplicate-heavy corpora make hot buckets. The candidate join's
  *    fan-out is quadratic in bucket size, so every banded tier takes a
  *    `maxBucketSize` cap ([[dropHotBuckets]]): buckets over the cap are
  *    dropped from candidate generation — those are exact-dup families
  *    better handled by tier 1 first. The guard is a broadcast ANTI-join
  *    against the (few, by definition) hot keys, so the big side is never
  *    re-shuffled. AQE's skew-join splitting covers moderate skew below
  *    the cap automatically.
  */
object Dedup {

  /** Exact dedup summary: one row per distinct content hash with the
    * canonical (minimum) doc_id kept and the duplicate count. SHA-256 over
    * the raw text — at 100 TB a 64-bit hash would see birthday collisions
    * (~50% at 5e9 docs); 256-bit never does.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    exactDedupOf(Tables.documents(spark, sfDir))

  /** Core of [[exactDedup]] over any (doc_id, text) frame. */
  def exactDedupOf(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(coalesce($"text", lit("")), 256).as("text_hash"))
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_dups"))

  /** Distinct character n-gram shingle set, null-safe (null → empty set).
    * Backed by the native codegen [[graft.functions.CharShinglesExpr]] — the
    * equivalent `array_distinct(transform(sequence(...), substr))` built-ins
    * are higher-order functions, which Spark executes interpreted.
    */
  def charShingles(text: Column, n: Int): Column =
    graft.functions.TextExpressions.charShingles(coalesce(text, lit("")), n)

  /** MinHash signature straight from text: for each of `numHashes` hash
    * slots, the minimum over the shingle set. Standard estimator:
    * P[sig_i(A)=sig_i(B)] = Jaccard(A,B). Fused native expression
    * ([[graft.functions.MinHashSignatureExpr]]): hashes each shingle's bytes
    * once and derives all slot values from the 64-bit base, instead of
    * numHashes interpreted passes over the shingle array.
    */
  def minhashSignature(text: Column, shingleLen: Int, numHashes: Int): Column =
    graft.functions.TextExpressions.minhashSignature(
      coalesce(text, lit("")), shingleLen, numHashes)

  /** LSH banding: the signature split into `numBands` bands of `rowsPerBand`,
    * each folded to one bucket key; band index = array position. Two docs
    * collide in a band iff that whole band matches; P[some band matches] =
    * 1-(1-J^r)^b. Fused with the signature into one native expression — a
    * `transform` lambda over a signature column would re-evaluate the whole
    * minhash once PER BAND (CSE does not reach inside interpreted HOF
    * lambdas; benched as a 32× recompute).
    */
  def bandKeys(text: Column, shingleLen: Int, numBands: Int,
      rowsPerBand: Int): Column =
    graft.functions.TextExpressions.minhashBands(
      coalesce(text, lit("")), shingleLen, numBands, rowsPerBand)

  /** Skew guard for banded-LSH candidate generation: remove rows belonging
    * to buckets with more than `cap` members. A bucket of n docs yields
    * n·(n−1)/2 candidate pairs — one 1M-doc exact-dup family would emit
    * 5·10¹¹ pairs and pin the join; such families are tier-1 (exact dedup)
    * work, not near-dup work. Hot keys are aggregated to a (tiny) frame and
    * removed with a broadcast anti-join, so the banded frame is never
    * re-SHUFFLED for the guard — but it IS re-COMPUTED: the hot-key
    * aggregate is a third evaluation of the shingle/minhash subtree (the
    * self-join's two sides are the other two; only the spread exchange
    * below it is reused).
    *
    * MEASURED dead end (round 6): ending the guard with an explicit
    * `repartition(keys)` — so both self-join sides ReusedExchange one map
    * pass and the signature is evaluated once — regressed the sub-cap-skew
    * tiers up to 8× (embedding_near_dup 1.8 s → 14.0 s at sf0.1). A
    * user-specified repartition's shuffle carries the REPARTITION_BY_COL
    * origin, which AQE's OptimizeSkewedJoin refuses to split (it only
    * rewrites ENSURE_REQUIREMENTS exchanges), so the quadratic candidate
    * buckets BELOW the cap (sign-LSH at r=2 has only 4 keys per band) stop
    * being skew-split at the join and serialize onto single tasks. The
    * recompute is the cheaper side of that trade; at production scale
    * checkpoint the banded frame instead — a scan has no skew-split
    * constraint.
    */
  private def dropHotBuckets(banded: DataFrame, keyCols: Seq[String],
      cap: Int): DataFrame = {
    if (cap <= 0) banded // cap disabled
    else {
      val hot = banded.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("bucket_n"))
        .filter($"bucket_n" > cap)
        .select(keyCols.map(col): _*)
      banded.join(broadcast(hot), keyCols, "left_anti")
    }
  }

  /** Near-duplicate pairs via MinHash-LSH with exact verification.
    *
    * shingle(n) → minhash(b×r) → explode bands → self-join on (band,sig) →
    * distinct candidate pairs → exact Jaccard on the shingle sets → filter.
    *
    * Band geometry is tuned to the corpus's BACKGROUND similarity, not just
    * the threshold: this corpus has median pairwise Jaccard ≈ 0.17 (measured
    * at sf0.1), and with shallow bands (r=2) a 0.17-pair collides somewhere
    * with p≈0.6 — the candidate set degenerates to all-pairs (round-3 bench:
    * 32 cores stuck in set-ops for minutes). Default b=128, r=8 keeps the
    * S-curve steep: candidate rate at J=0.17 ≈ 0.8%, while a true pair at
    * the J=0.8 threshold is missed with p=(1-0.8⁸)¹²⁸ ≈ 7e-11 — still
    * effectively exhaustive, which is why the DuckDB brute-force oracle
    * matches exactly.
    */
  def nearDupPairs(spark: SparkSession, sfDir: String, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8,
      threshold: Double = 0.8): DataFrame =
    nearDupPairsOf(Tables.documents(spark, sfDir), shingleLen, numBands,
      rowsPerBand, threshold)

  /** Cross-source duplication matrix: [[nearDupPairs]] rolled up by the
    * (unordered) source pair — which sources mirror/copy which is the
    * table that decides whether to dedup a source pair jointly or drop
    * one side wholesale (mirror-site detection in web corpora).
    *
    * Exactness: jaccard is a 4-decimal double, so ×10⁴ sums as exact
    * integers and the mean is ONE final division, r6 — no float-
    * summation-order drift. Scale: the pair set is ≪ the corpus (it is
    * the LSH output), so both doc_id joins put the small pair side
    * against the corpus scan — shuffle-on-key, never pairwise — and the
    * rollup is source²-sized.
    */
  def crossSourceDupMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select($"doc_id", $"source")
    val pairs = nearDupPairs(spark, sfDir)
      .withColumn("jm", round($"jaccard" * 10000).cast("long"))
    pairs
      .join(src.withColumnRenamed("doc_id", "a_doc_id")
        .withColumnRenamed("source", "src_a"), "a_doc_id")
      .join(src.withColumnRenamed("doc_id", "b_doc_id")
        .withColumnRenamed("source", "src_b"), "b_doc_id")
      .select(least($"src_a", $"src_b").as("source_a"),
        greatest($"src_a", $"src_b").as("source_b"), $"jm")
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum($"jm").cast("double") / (count(lit(1)) * 10000).cast("double"), 6)
          .as("avg_jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  /** Core of [[nearDupPairs]] over any (doc_id, text) frame.
    * `maxBucketSize` caps LSH bucket fan-out (see [[dropHotBuckets]]); the
    * fixture corpora never approach the default cap, so the oracle's
    * brute-force twin still matches exactly. */
  def nearDupPairsOf(documents: DataFrame, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    // spread first: shingling + minhash are the dominant per-row cost —
    // never leave them on one task (a small fixture file is one scan split)
    val base = nearDupBase(documents, shingleLen)
    val candidates = bandedCandidates(base, shingleLen, numBands,
      rowsPerBand, maxBucketSize)
    jaccardVerify(base, candidates, shingleLen, threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets: the tail of [[nearDupPairsOf]], factored so [[dedupTierOverlap]]
    * can run it over a SHARED candidate pass. */
  private def jaccardVerify(base: DataFrame, candidates: DataFrame,
      shingleLen: Int, threshold: Double): DataFrame = {
    // sorted producer + merge-intersect: the per-PAIR set op drops its
    // HashSet build/probe for a linear merge; the sort is once per DOC
    // (SetOpsImpl.sortedIntersectSize has the measured numbers)
    val sets = base.select($"doc_id",
      graft.functions.TextExpressions.charShinglesSorted($"t", shingleLen)
        .as("shingles"))
    candidates
      .join(sets.withColumnRenamed("doc_id", "a_doc_id")
        .withColumnRenamed("shingles", "a_sh"), "a_doc_id")
      .join(sets.withColumnRenamed("doc_id", "b_doc_id")
        .withColumnRenamed("shingles", "b_sh"), "b_doc_id")
      // |A∪B| = |A|+|B|−|A∩B|: one set op per pair instead of two, and the
      // intersect-size is a native codegen expression (ArrayIntersect/
      // ArrayUnion evaluate interpreted with per-element lambda dispatch)
      .withColumn("inter",
        graft.functions.TextExpressions.sortedIntersectSize($"a_sh", $"b_sh"))
      .withColumn("jaccard", round($"inter".cast("double") /
        (size($"a_sh") + size($"b_sh") - $"inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"a_doc_id", $"b_doc_id", $"jaccard")
  }

  /** The (doc_id, t) frame every text-LSH tier starts from: spread first
    * (shingling + minhash are the dominant per-row cost — never leave them
    * on one task; a small fixture file is one scan split), null→empty, and
    * drop texts too short to shingle (same rows as size(shingles) > 0). */
  private def nearDupBase(documents: DataFrame, shingleLen: Int): DataFrame =
    spread(documents)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)

  /** Banded-LSH candidate generation shared by the MinHash-Jaccard and
    * edit-distance tiers: distinct unordered (a_doc_id < b_doc_id) pairs
    * colliding in at least one band. Cost O(docs × bands) rows exchanged;
    * only colliding buckets join; hot buckets capped ([[dropHotBuckets]]).
    *
    * The banded frame is lineage-cut ONCE, eagerly, right after the
    * minhash expression: the candidate topology consumes it four times
    * (hot-bucket count ×2 — one per self-join side — plus the two join
    * sides themselves), and without the cut each consumer re-runs the
    * full scan → spread → 1024-slot minhash pass (the dominant per-row
    * cost of the whole tier; plan-verified as four `minhashbandsexpr`
    * Generates over four parquet scans). A checkpointed scan also keeps
    * AQE's skew-split: the self-join's exchanges stay ENSURE_REQUIREMENTS
    * (the round-6 `repartition(keys)` dead end documented on
    * [[dropHotBuckets]] does not apply). The materialized rows are narrow
    * (doc_id, band, bsig) — bands×corpus rows of ~20 bytes, ≪ the text
    * they derive from. localCheckpoint here; reliable `checkpoint` (or
    * the persisted band-index table, which IS this frame) on a cluster. */
  private def bandedCandidates(base: DataFrame, shingleLen: Int,
      numBands: Int, rowsPerBand: Int, maxBucketSize: Int): DataFrame = {
    val banded = dropHotBuckets(base.select($"doc_id",
      posexplode(bandKeys($"t", shingleLen, numBands, rowsPerBand))
        .as(Seq("band", "bsig"))).localCheckpoint(), Seq("band", "bsig"),
      maxBucketSize)
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bsig") === col("r.bsig") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_doc_id"), col("r.doc_id").as("b_doc_id"))
      .distinct()
  }

  /** Normalization-tolerant exact dedup (the C4/RefinedWeb "fuzzy-exact"
    * tier): case-fold, collapse every non-alphanumeric run to one space,
    * trim, THEN content-hash group-by. Catches the formatting variants the
    * raw-byte tier misses (casing, punctuation, whitespace layout) at
    * identical cost — one linear scan and one hash shuffle, nothing
    * pairwise. Sits between tier 1 (exact) and tier 2 (MinHash) in the
    * tolerance ladder: still zero false positives on CONTENT (two docs
    * collapse only when their normalized forms are byte-equal).
    *
    * `n_variants` counts distinct RAW texts per normalized group — the
    * audit column separating true re-posts (n_dups ≫ n_variants) from
    * formatting drift (n_variants ≈ n_dups).
    */
  def normalizedDedup(spark: SparkSession, sfDir: String): DataFrame =
    normalizedDedupOf(Tables.documents(spark, sfDir))

  /** Core of [[normalizedDedup]] over any (doc_id, text) frame. */
  def normalizedDedupOf(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(coalesce($"text", lit(""))),
      "[^a-z0-9]+", " "))
    docs
      .groupBy(sha2(norm, 256).as("norm_hash"))
      .agg(min($"doc_id").as("keep_doc_id"), count(lit(1)).as("n_dups"),
        countDistinct($"text").as("n_variants"))
  }

  /** Registered companion of [[editNearDup]]: the banded-LSH candidate
    * pairs themselves (rows-only on its own — it IS the oracle input, the
    * ivf_assignments pattern). The edit_near_dup oracle replays the
    * bounded-Levenshtein verify over exactly these candidates in DuckDB, so
    * the verify arithmetic is hash-checked while candidate recall stays
    * where it honestly lives: in the band geometry over the char-shingle
    * proxy (DedupSpec pins brute-force equality on a mutation fixture).
    */
  def editCandidates(spark: SparkSession, sfDir: String,
      shingleLen: Int = 5, numBands: Int = 128,
      rowsPerBand: Int = 8): DataFrame =
    bandedCandidates(
      nearDupBase(Tables.documents(spark, sfDir), shingleLen),
      shingleLen, numBands, rowsPerBand, 1000)

  /** Edit-distance-verified near-duplicates: banded-LSH candidates (the
    * char-shingle proxy — edit-similar docs are shingle-similar, so the
    * same geometry that is exhaustive-with-p≈7e-11 for Jaccard ≥ 0.8
    * recalls the edit tier's pairs) verified with BOUNDED Levenshtein:
    * `levenshtein(a, b, max_dist)` runs the banded O(max_dist·n) DP and
    * returns −1 past the bound instead of filling the full O(n·m) matrix —
    * at a 0.8 similarity floor that is a 5–10× verify saving on long docs,
    * and the kept distances are exact (the bound only truncates rejects).
    * edit_sim = 1 − dist/max(len); threshold on the rounded sim. The tier
    * to reach for when "duplicate" means small local edits (boilerplate
    * injection, truncation, typo drift) rather than set overlap — ordering
    * matters to Levenshtein, not to Jaccard.
    */
  def editNearDup(spark: SparkSession, sfDir: String, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8,
      threshold: Double = 0.8): DataFrame =
    editNearDupOf(Tables.documents(spark, sfDir), shingleLen, numBands,
      rowsPerBand, threshold)

  /** Core of [[editNearDup]] over any (doc_id, text) frame.
    *
    * The threshold is applied as EXACT INTEGER arithmetic: with t in
    * ten-thousandths (tq), `sim ≥ t  ⟺  d·10000 ≤ (10000−tq)·max_len  ⟺
    * d ≤ ⌊(10000−tq)·max_len/10000⌋` for integer d — so the bounded
    * Levenshtein's −1 reject IS the threshold filter, and no float gate
    * exists to drift between engines. (The naive `floor(max_len·(1−t))`
    * breaks exactly there: `1.0−0.8 < 0.2` in IEEE doubles, so Spark would
    * compute 110 where DuckDB's literal 0.2 gives 111 on a 555-char doc.)
    * `edit_sim` is a REPORTED rounded column, never a filter.
    */
  def editNearDupOf(documents: DataFrame, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8, threshold: Double = 0.8,
      maxBucketSize: Int = 1000): DataFrame = {
    val base = nearDupBase(documents, shingleLen)
    val candidates = bandedCandidates(base, shingleLen, numBands,
      rowsPerBand, maxBucketSize)
    editVerify(base, candidates, threshold)
  }

  /** Bounded-Levenshtein verification of candidate pairs: the tail of
    * [[editNearDupOf]], factored so [[dedupTierOverlap]] can run it over a
    * SHARED candidate pass. */
  private def editVerify(base: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val tq = math.round(threshold * 10000).toInt
    candidates
      .join(base.withColumnRenamed("doc_id", "a_doc_id")
        .withColumnRenamed("t", "a_t"), "a_doc_id")
      .join(base.withColumnRenamed("doc_id", "b_doc_id")
        .withColumnRenamed("t", "b_t"), "b_doc_id")
      .withColumn("max_len", greatest(length($"a_t"), length($"b_t")))
      .withColumn("max_dist",
        expr(s"int((max_len * ${10000 - tq}L) div 10000)"))
      // per-pair bound: the SQL form takes the threshold as an expression
      // (the Scala functions.levenshtein overload only takes an Int
      // literal); banded O(max_dist·n) DP instead of the full O(n·m) matrix
      .withColumn("edit_dist", expr("levenshtein(a_t, b_t, max_dist)"))
      .filter($"edit_dist" >= 0) // −1 = past the bound = below threshold
      .withColumn("edit_sim",
        round(lit(1.0) - $"edit_dist".cast("double") / $"max_len", 4))
      .select($"a_doc_id", $"b_doc_id",
        $"edit_dist".cast("long").as("edit_dist"), $"edit_sim")
  }

  /** Cross-tier agreement matrix — which near-dup pairs each tier finds:
    * MinHash-Jaccard (set overlap), bounded-Levenshtein (ordered local
    * edits), and SimHash (weighted-feature Hamming), rolled up by presence
    * combination. The table that decides whether a cheaper tier can REPLACE
    * a costlier one on this corpus (a row like (0,1,0) counts pairs only
    * the edit tier sees — drop it and those survive dedup).
    *
    * Cost sharing is the point of the implementation: the two
    * banded-LSH-verified tiers run over ONE shared candidate pass (the
    * candidate frame is localCheckpoint-cut so the shingle→minhash→band
    * subtree executes once, not once per verify — the dupClusters lineage
    * discipline); SimHash generates its own (pigeonhole) candidates by
    * construction. The full-outer joins run on pair-graph-sized frames,
    * ≪ corpus.
    */
  def dedupTierOverlap(spark: SparkSession, sfDir: String,
      shingleLen: Int = 5, numBands: Int = 128, rowsPerBand: Int = 8,
      jaccardThreshold: Double = 0.8, editThreshold: Double = 0.8,
      maxHamming: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = nearDupBase(docs, shingleLen)
    val candidates = bandedCandidates(base, shingleLen, numBands,
      rowsPerBand, 1000).localCheckpoint()
    val keys = Seq("a_doc_id", "b_doc_id")
    val mh = jaccardVerify(base, candidates, shingleLen, jaccardThreshold)
      .select($"a_doc_id", $"b_doc_id", lit(1).as("minhash"))
    val ed = editVerify(base, candidates, editThreshold)
      .select($"a_doc_id", $"b_doc_id", lit(1).as("edit"))
    val sh = simhashNearDupOf(docs, shingleLen, maxHamming)
      .select($"a_doc_id", $"b_doc_id", lit(1).as("simhash"))
    mh.join(ed, keys, "full")
      .join(sh, keys, "full")
      .select(coalesce($"minhash", lit(0)).as("minhash"),
        coalesce($"edit", lit(0)).as("edit"),
        coalesce($"simhash", lit(0)).as("simhash"))
      .groupBy($"minhash", $"edit", $"simhash")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"minhash", $"edit", $"simhash")
  }

  /** Keep-BEST dedup policy: per near-dup family ([[nearDupClusters]]'s
    * connected components), keep the member with the HIGHEST quality score
    * (ties to the smaller doc_id) instead of keep-first — what production
    * pipelines actually ship, since the lowest doc_id is an accident of
    * crawl order while the highest-quality variant is the one worth
    * training on. `min_doc_id` rides along as the audit column: rows where
    * keep_doc_id ≠ min_doc_id are exactly the decisions this policy
    * changes vs keep-first.
    *
    * Scale shape: the family frame is pair-graph-sized (≪ corpus), so the
    * quality join sends the tiny side to the corpus-wide score scan, and
    * the ranking window partitions by family — family-sized partitions,
    * never a corpus funnel.
    */
  def qualityKeepDedup(spark: SparkSession, sfDir: String): DataFrame =
    qualityKeepDecisions(nearDupClusters(spark, sfDir),
      TextAnalysis.textStats(spark, sfDir)
        .select($"doc_id", $"quality_score"))
      .orderBy($"cluster_id")

  /** Core of [[qualityKeepDedup]] over any (doc_id, cluster_id) family
    * frame and (doc_id, quality_score) score frame. */
  def qualityKeepDecisions(fams: DataFrame, quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    fams.join(quality, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cluster_id")
          .orderBy($"quality_score".desc, $"doc_id")))
      .groupBy($"cluster_id")
      .agg(max(when($"rk" === 1, $"doc_id")).as("keep_doc_id"),
        max(when($"rk" === 1, $"quality_score")).as("keep_quality"),
        count(lit(1)).as("n_members"),
        min($"doc_id").as("min_doc_id"))
  }

  /** The SHIPPABLE form of the keep-best policy — the corpus after
    * quality-keep near-dedup: exact-dedup keepers minus every near-dup
    * family member that is not its family's quality keeper. The
    * keep-first twin is [[graft.operators.Pipelines]]' near_dedup_corpus
    * shape; this one keeps the variant worth training on instead of the
    * crawl-order accident. Composition edge (documented, not hidden): a
    * family whose quality keeper was itself dropped by the EXACT tier
    * contributes nothing — at any realistic scale exact duplicates carry
    * equal quality scores, so the policies agree there, and the exact
    * tier runs first precisely so its families never reach the LSH join.
    *
    * Scale: both subtractions are pair-graph-sized anti-join probes into
    * the corpus scan; every stage linear.
    */
  def qualityKeepCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val fams = nearDupClusters(spark, sfDir)
    val drops = fams
      .join(qualityKeepDecisions(fams,
          TextAnalysis.textStats(spark, sfDir)
            .select($"doc_id", $"quality_score"))
          .select($"cluster_id", $"keep_doc_id"),
        "cluster_id")
      .filter($"doc_id" =!= $"keep_doc_id")
      .select($"doc_id")
    docs
      .join(exactDedupOf(docs).select($"keep_doc_id".as("doc_id")), "doc_id")
      .join(drops, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"n_chars")
  }

  /** Exact token-n-gram Jaccard similarity self-join via PREFIX FILTERING
    * (AllPairs/PPJoin family) — the deterministic counterpart of
    * [[nearDupPairs]]: same output contract (all pairs with Jaccard ≥
    * `threshold`), but EXACT by construction rather than exhaustive-with-
    * probability-7e-11. The tier to reach for when a miss bound, however
    * small, is not acceptable (legal-hold dedup, eval-set integrity).
    *
    * Algorithm: each doc's distinct token n-gram set (the fused codegen
    * [[graft.functions.TokenNgramsExpr]]) is ordered by GLOBAL document
    * frequency (rarest first; ties by gram). For Jaccard ≥ t, two docs must
    * share at least one gram within their first `|g| − ⌈t·|g|⌉ + 1` ordered
    * grams (prefix-filtering principle: the required overlap
    * α = ⌈t/(1+t)·(|x|+|y|)⌉ is ≥ ⌈t·|x|⌉ for any qualifying pair, and two
    * sets overlapping α times must collide inside their (size − α + 1)-
    * prefixes). So the candidate join runs on PREFIX grams only — each
    * doc's globally rarest — which is what bounds fan-out: a gram appears
    * in a prefix only when a doc has nothing rarer, so hot grams
    * self-select OUT of candidate generation. A size filter
    * (t·|x| ≤ |y| ≤ |x|/t, necessary for J ≥ t) prunes inside the join
    * condition before the pair ever materializes.
    *
    * Scale shape: one explode + hash-agg for the df table (map-side
    * combine), one shuffle join gram⨝df + one hash-agg to order each doc's
    * set (at 100 TB the df table is corpus-vocabulary-sized — a broadcast
    * would not hold; the shuffle join is the honest topology and AQE
    * downgrades it to broadcast when small), then the prefix self-join.
    * Worst case is a corpus of exact duplicates (every prefix identical) —
    * quadratic for ANY exact algorithm; run [[exactDedup]] first, as the
    * composed pipelines do. Both ceil/size comparisons carry a −1e-9 guard
    * so float slop can only LENGTHEN a prefix or ADMIT a boundary pair
    * (more candidates, never a miss); the exact verify settles membership.
    */
  def tokenJaccardPairs(spark: SparkSession, sfDir: String, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    tokenJaccardPairsOf(Tables.documents(spark, sfDir), n, threshold)

  /** Core of [[tokenJaccardPairs]] over any (doc_id, text) frame. */
  def tokenJaccardPairsOf(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val t = threshold
    // sorted producer: explode/df-count below are order-blind, and the
    // verify tail's per-pair set op becomes a linear merge
    // (SetOpsImpl.sortedIntersectSize — this verify measured 65.7 s of
    // task time with the per-pair HashSet form)
    val grams = spread(documents)
      .select($"doc_id", graft.functions.TextExpressions
        .tokenNgramsSorted(coalesce($"text", lit("")), n).as("grams"))
      .filter(size($"grams") > 0)
    val ex = grams.select($"doc_id", size($"grams").as("sz"),
      explode($"grams").as("gram"))
    // document frequency per gram: per-doc sets are distinct, so a plain
    // count IS the df; partial aggregation combines map-side
    val dfreq = ex.groupBy($"gram").agg(count(lit(1)).as("df"))
    // each doc's grams in (df asc, gram asc) order — array_sort on the
    // (df, gram) struct sorts lexicographically by field order, and the
    // field extraction `sg.gram` is codegen'd GetArrayStructFields, not an
    // interpreted transform() lambda
    val ordered = ex.join(dfreq, "gram")
      .groupBy($"doc_id", $"sz")
      .agg(array_sort(collect_list(struct($"df", $"gram"))).as("sg"))
    val prefixLen =
      ($"sz" - ceil(lit(t) * $"sz" - lit(1e-9)) + lit(1)).cast("int")
    val prefix = ordered
      .select($"doc_id", $"sz",
        explode(slice($"sg.gram", lit(1), prefixLen)).as("gram"))
    val candidates = prefix.as("l")
      .join(prefix.as("r"),
        col("l.gram") === col("r.gram") &&
          col("l.doc_id") < col("r.doc_id") &&
          // J >= t forces t·|x| <= |y| and t·|y| <= |x|: prune size-
          // incompatible pairs inside the join condition, pre-materialization
          col("r.sz") >= lit(t) * col("l.sz") - lit(1e-9) &&
          col("l.sz") >= lit(t) * col("r.sz") - lit(1e-9))
      .select(col("l.doc_id").as("a_doc_id"), col("r.doc_id").as("b_doc_id"))
      .distinct()
      // restore verify parallelism: the distinct's output is BYTE-tiny (two
      // longs per pair), so AQE coalesces it to 1-2 partitions — and the
      // per-pair verify below (gram-set intersection over full arrays) is
      // the query's most compute-dense stage, measured serializing on 2
      // tasks (5.5 s task-time, 2.8 s wall floor) behind a broadcast of the
      // gram table. Pair ROWS are cheap to exchange at any scale; their
      // VERIFY is not — round-robin them across the session parallelism.
      .repartition(documents.sparkSession
        .conf.get("spark.sql.shuffle.partitions").toInt)
    candidates
      .join(grams.select($"doc_id".as("a_doc_id"), $"grams".as("a_g")), "a_doc_id")
      .join(grams.select($"doc_id".as("b_doc_id"), $"grams".as("b_g")), "b_doc_id")
      .withColumn("inter",
        graft.functions.TextExpressions.sortedIntersectSize($"a_g", $"b_g"))
      .withColumn("jaccard", round($"inter".cast("double") /
        (size($"a_g") + size($"b_g") - $"inter"), 4))
      .filter($"jaccard" >= t)
      .select($"a_doc_id", $"b_doc_id", $"jaccard")
  }

  /** Incremental near-dup: MinHash-LSH candidates between a NEW batch and a
    * STANDING corpus only — the daily-ingestion path of a production dedup
    * pipeline. [[nearDupPairs]] answers "dedup this corpus against itself";
    * this answers "which of today's documents duplicate anything already
    * ingested" WITHOUT re-pairing the corpus against itself.
    *
    * Scale design: the join is batch-bands × corpus-bands on (band, bsig) —
    * cost O(|batch| × bands) exchanged batch rows; corpus × corpus pairs are
    * never generated. In production the corpus side of this join is a
    * PERSISTED band-index table (computed once per doc at ingest, stored
    * bucketed by (band, bsig) so the per-batch join is co-located — the same
    * build-once/query-many layout as [[graft.operators.Similarity]]'s IVF
    * index and `Tables.writeBucketed`), and each verified batch appends its
    * own bands to it ([[appendToBandIndex]]); here both sides are derived
    * in-plan because the
    * fixture has no standing warehouse. The hot-bucket cap applies to the
    * corpus side only: a standing index is capped once at build time, and
    * an incoming batch is small by definition.
    *
    * Output: (new_doc_id, dup_of_doc_id, jaccard) — one row per batch doc ×
    * matched corpus doc at `threshold`, exact-Jaccard verified like
    * [[nearDupPairsOf]] (same b=128/r=8 geometry, miss p ≈ 7e-11 at 0.8, so
    * the brute-force oracle matches exactly). Corpus and batch doc_ids are
    * independent namespaces — no cross-frame id constraint is applied.
    */
  def incrementalNearDupOf(corpus: DataFrame, batch: DataFrame,
      shingleLen: Int = 5, numBands: Int = 128, rowsPerBand: Int = 8,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val corpusBase = spread(corpus)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
    val batchBase = spread(batch)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
    def bandsOf(base: DataFrame) = base.select($"doc_id",
      posexplode(bandKeys($"t", shingleLen, numBands, rowsPerBand))
        .as(Seq("band", "bsig")))
    // lineage-cut the corpus side's banded frame (the [[bandedCandidates]]
    // discipline): the hot-bucket count and the candidate join would
    // otherwise run the corpus-wide minhash pass twice. The batch side is
    // evaluated once, so it carries no cut. In production this frame IS
    // the persisted band-index table ([[incrementalNearDupIndexed]]).
    val corpusBanded = dropHotBuckets(bandsOf(corpusBase).localCheckpoint(),
      Seq("band", "bsig"), maxBucketSize)
    val candidates = bandsOf(batchBase).as("l")
      .join(corpusBanded.as("r"),
        col("l.band") === col("r.band") && col("l.bsig") === col("r.bsig"))
      .select(col("l.doc_id").as("new_doc_id"),
        col("r.doc_id").as("dup_of_doc_id"))
      .distinct()
    // sorted producer + merge-intersect (SetOpsImpl.sortedIntersectSize)
    val shingleSets = (base: DataFrame, idAs: String, setAs: String) =>
      base.select($"doc_id".as(idAs),
        graft.functions.TextExpressions.charShinglesSorted($"t", shingleLen)
          .as(setAs))
    candidates
      .join(shingleSets(batchBase, "new_doc_id", "a_sh"), "new_doc_id")
      .join(shingleSets(corpusBase, "dup_of_doc_id", "b_sh"), "dup_of_doc_id")
      .withColumn("inter",
        graft.functions.TextExpressions.sortedIntersectSize($"a_sh", $"b_sh"))
      .withColumn("jaccard", round($"inter".cast("double") /
        (size($"a_sh") + size($"b_sh") - $"inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"new_doc_id", $"dup_of_doc_id", $"jaccard")
  }

  /** Registered form of [[incrementalNearDupOf]]: every 10th fixture doc
    * plays the incoming batch, the rest the standing corpus. */
  def incrementalNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    incrementalNearDupOf(
      docs.filter($"doc_id" % 10 =!= 0),
      docs.filter($"doc_id" % 10 === 0))
  }

  /** EXACT incremental dedup with a Bloom pre-filter — the sketch-carried
    * scale path of the batch-vs-standing-corpus exact tier. The standing
    * corpus's content hashes aggregate into ONE Bloom filter (a fixed
    * `numBits/8`-byte binary, corpus-size-independent) which broadcasts to
    * the batch; batch rows whose probe says "definitely absent" are new
    * with certainty (Bloom has no false negatives) and skip verification
    * entirely. Only the probe-positive CANDIDATES — true dups plus an fpp
    * sliver — reach the exact verify, and because that candidate set is
    * small by construction it broadcasts BACK against the corpus scan:
    *
    *   corpus ──agg──▶ bloom (one binary row, broadcast) ──probe──▶ batch
    *   candidates (tiny, broadcast) ──semi-join──▶ corpus ─▶ confirmed
    *   batch ──anti-join (broadcast confirmed)──▶ survivors
    *
    * NEITHER the corpus nor the batch ever shuffles — the plain hash
    * anti-join this replaces co-shuffles both sides on text_hash. The
    * false-positive rate only costs re-verification work, never
    * correctness, so the result is bit-identical to the exact anti-join
    * and the plain-SQL oracle applies verbatim.
    */
  def bloomIncrementalDedupOf(corpus: DataFrame, batch: DataFrame,
      expectedItems: Long = 1000000L, numBits: Long = 8000000L): DataFrame = {
    import graft.functions.Bloom
    val hashOf = sha2(coalesce($"text", lit("")), 256)
    val cor = spread(corpus).select(hashOf.as("text_hash"))
    // the corpus-side sketch rides as a SCALAR SUBQUERY (the only build
    // form might_contain accepts besides a literal): one subquery stage
    // aggregates the corpus into the filter, every batch partition probes
    // its result value in place
    val bloom = org.apache.spark.sql.GraftSqlBridge.scalarSubquery(cor.agg(
      Bloom.bloomAgg(xxhash64($"text_hash"), expectedItems, numBits).as("bf")))
    val bat = spread(batch).select($"doc_id", hashOf.as("text_hash"))
    val candidates = bat
      .filter(Bloom.mightContain(bloom, xxhash64($"text_hash")))
      .select($"text_hash").distinct()
    val confirmed = cor
      .join(broadcast(candidates), "text_hash")
      .select($"text_hash").distinct()
    bat.join(broadcast(confirmed), Seq("text_hash"), "left_anti")
      .select($"doc_id".as("new_doc_id"), $"text_hash")
  }

  /** Registered form of [[bloomIncrementalDedupOf]]: a re-crawl day. The
    * whole fixture corpus stands; the batch re-ingests every 10th doc under
    * a fresh id namespace (+1e6), with every 20th doc's text UPDATED
    * (suffixed) — so half the batch are exact dups the Bloom probe catches
    * and half are changed pages that pass as new. The oracle replays the
    * same derivation and the plain NOT-IN anti-join. */
  def bloomIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter($"doc_id" % 10 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      when($"doc_id" % 20 === 0,
        concat(coalesce($"text", lit("")), lit(" v2")))
        .otherwise($"text").as("text"))
    bloomIncrementalDedupOf(docs, batch)
  }

  /** Materialize the standing corpus's band index as a BUCKETED table: one
    * row per (doc_id, band, bsig), bucketed+sorted by the band key — the
    * build-once half of the incremental-dedup contract
    * ([[incrementalNearDupIndexed]] is the query-many half). Because the
    * table's bucketing matches the candidate join's keys, every subsequent
    * batch join reads the corpus side CO-LOCATED: only the (small) batch
    * side shuffles, the index is never re-banded and never re-exchanged
    * (BucketingSpec pins zero Exchange above the index scan). Hot buckets
    * are capped HERE, once at build time — the same pre-capped-index
    * property [[incrementalNearDupOf]]'s docstring assumes. At 100 TB this
    * table is the per-doc ingest artifact each verified batch appends to
    * via [[appendToBandIndex]] (which re-applies the cap across the union).
    */
  def writeBandIndex(docs: DataFrame, table: String, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8, buckets: Int = 32,
      maxBucketSize: Int = 1000, location: Option[String] = None): Unit = {
    val base = spread(docs)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
    val banded = dropHotBuckets(base.select($"doc_id",
      posexplode(bandKeys($"t", shingleLen, numBands, rowsPerBand))
        .as(Seq("band", "bsig"))), Seq("band", "bsig"), maxBucketSize)
    // `location` makes the table EXTERNAL at an explicit path — harness
    // entries use a per-process tmp path because the default warehouse DIR
    // outlives the in-memory CATALOG: a fresh process would see
    // tableExists=false yet hit LOCATION_ALREADY_EXISTS on the stale
    // managed dir. In production this is an explicit warehouse path anyway.
    // pre-cluster to the writer's own bucket rule (HashPartitioning(keys,
    // buckets) == the bucket-id expression — the compactIndexTable
    // rationale): each task holds one whole bucket, so the table lands as
    // `buckets` files instead of (banding tasks × buckets) fragments, and
    // every subsequent probe scan opens `buckets` files (guide §6: small
    // files hurt on the READ side, per probe, forever)
    val writer = banded.repartition(buckets, $"band", $"bsig")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band", "bsig").sortBy("band", "bsig")
    location.fold(writer)(writer.option("path", _)).saveAsTable(table)
  }

  /** Re-band the standing corpus at NEW geometry and swap the result into
    * the serving table name — the band-index twin of
    * [[graft.operators.Similarity.retrainIvfIndex]], closing the same ops
    * loop: [[appendToBandIndex]] appends at the geometry the index was
    * BUILT with, so changing shingle length, band count, or the hot-bucket
    * cap (recall/fan-out retuning as the ingested distribution drifts)
    * requires a rebuild, and a rebuild must not interrupt the probes.
    *
    * Swap protocol ([[graft.util.IndexSwap]]): the rebuilt index is fully
    * materialized as a STAGING table at the ping-pong sibling of the
    * current data location, then swapped in at the metastore (drop +
    * rename — external locations survive both) and the old data directory
    * retired. Probes resolve the table name per call
    * ([[incrementalNearDupIndexed]] reads the catalog each micro-batch),
    * so the next probe serves from the new geometry with no re-register;
    * the STREAMING probe loop retries once on a trigger that raced the
    * drop-rename gap or the directory retirement
    * ([[graft.streaming.DedupStream.incrementalDedupQuery]] — the IVF
    * serving loop's contract; direct batch callers sequence rebuilds
    * themselves). BucketingSpec pins probe-through-rebuild:
    * correct pairs at the new geometry, index side still zero-Exchange,
    * and a second rebuild ping-pongs back without nesting locations. */
  def rebuildBandIndex(docs: DataFrame, table: String, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8, buckets: Int = 32,
      maxBucketSize: Int = 1000): Unit = {
    val spark = docs.sparkSession
    // absorption rides the rebuild: tombstoned docs leave the input (the
    // caller's corpus frame may still carry them), and the SNAPSHOT of the
    // medium retires once the swapped index is delete-free — deletes
    // landing mid-rebuild stay live (see foldTombstoneSnapshot)
    val tsRoot = indexTombstoneRoot(spark, table)
    val snapshot = graft.util.Tombstones.dataFiles(spark, tsRoot)
    val retained = foldTombstoneSnapshot(docs, snapshot, "doc_id")
    rebuildIndexTable(spark, table) { (stagingTable, loc) =>
      writeBandIndex(retained, stagingTable, shingleLen, numBands,
        rowsPerBand, buckets, maxBucketSize, location = Some(loc))
    }
    graft.util.Tombstones.clearFiles(spark, tsRoot, snapshot)
  }

  /** Re-band the standing EMBEDDING corpus at new sign-LSH geometry
    * (plane count, rows per band, seed — the recall/fan-out dials of the
    * semantic tier) and swap it under the serving name — the embedding
    * twin of [[rebuildBandIndex]], same shared protocol and the same
    * probe-survival contract (BucketingSpec pins it). Probe geometry
    * params must move WITH the rebuild — the planes are derived from
    * (numBands, rowsPerBand, dim, seed) on both sides. */
  def rebuildEmbeddingBandIndex(embeddings: DataFrame, table: String,
      numBands: Int = 64, rowsPerBand: Int = 2, dim: Int = 64,
      seed: Long = 7L, buckets: Int = 32, maxBucketSize: Int = 1000): Unit = {
    val spark = embeddings.sparkSession
    val tsRoot = indexTombstoneRoot(spark, table)
    val snapshot = graft.util.Tombstones.dataFiles(spark, tsRoot)
    val retained = foldTombstoneSnapshot(embeddings, snapshot, "vec_id")
    rebuildIndexTable(spark, table) { (stagingTable, loc) =>
      writeEmbeddingBandIndex(retained, stagingTable, numBands,
        rowsPerBand, dim, seed, buckets, maxBucketSize,
        location = Some(loc))
    }
    graft.util.Tombstones.clearFiles(spark, tsRoot, snapshot)
  }

  /** Re-chunk the standing perceptual-hash index at a new `numChunks`
    * (the Hamming-budget pigeonhole dial) and swap — same protocol; the
    * chunk-geometry table property rides the staging table through the
    * rename, so post-rebuild probes keep their geometry check. */
  def rebuildHashIndex(sigs: DataFrame, idCol: String, sigCol: String,
      table: String, numChunks: Int, buckets: Int = 32,
      maxBucketSize: Int = 1000): Unit = {
    val spark = sigs.sparkSession
    val tsRoot = indexTombstoneRoot(spark, table)
    val snapshot = graft.util.Tombstones.dataFiles(spark, tsRoot)
    val retained = foldTombstoneSnapshot(sigs, snapshot, idCol)
    rebuildIndexTable(spark, table) { (stagingTable, loc) =>
      writeHashIndex(retained, idCol, sigCol, stagingTable, numChunks,
        buckets, maxBucketSize, location = Some(loc))
    }
    graft.util.Tombstones.clearFiles(spark, tsRoot, snapshot)
  }

  /** COMPACT a bucketed standing index table in place — the table-medium
    * twin of [[graft.util.Compaction.compactDir]], completing small-file
    * maintenance for BOTH index media: every [[appendToBandIndex]] /
    * [[appendToHashIndex]] (and each streaming ingest trigger behind them)
    * adds files per bucket, and a long-lived index's probe cost grows with
    * the file count even though the bucketing keeps it exchange-free. This
    * rewrites the CURRENT rows — no re-banding, no re-hashing, the rows
    * are already the index — clustered by the table's own bucket spec
    * (`repartition(numBuckets, keys)` matches the bucket hash, so the
    * staged table lands ONE file per bucket), then swaps it under the
    * serving name through the shared scaffold ([[rebuildIndexTable]]:
    * ping-pong staging location, metastore drop+rename, retire old files;
    * in-flight probes retry once — the same survival contract rebuilds
    * already exercise). Where a REBUILD re-derives the index from the
    * corpus at possibly-new geometry, compaction is geometry- and
    * content-preserving: same rows, same bucket spec, same `graft.*`
    * table properties (carried explicitly — the hash index's chunk
    * geometry check rides through). CompactionSpec pins file-count
    * reduction, probe parity, and the property carry.
    *
    * CONCURRENCY: the same contract as the directory medium
    * ([[graft.util.Compaction]]'s object doc) — rows appended between
    * this compaction's read and its swap would die with the retired
    * location, so sequence compactions BETWEEN ingest triggers (the
    * ingest loops are driver-sequenced micro-batches, so a maintenance
    * slot exists at every trigger boundary — the slot retrains already
    * run in) or with ingest paused; concurrent PROBES are fine — they
    * retry once across the drop-rename gap, the rebuild contract. */
  def compactIndexTable(spark: SparkSession, table: String): Unit = {
    val idCol = indexIdColumn(spark, table)
    val tsRoot = indexTombstoneRoot(spark, table)
    val snapshot = graft.util.Tombstones.dataFiles(spark, tsRoot)
    rebuildIndexTable(spark, table) { (stagingTable, loc) =>
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      val spec = meta.bucketSpec.getOrElse(sys.error(
        s"compactIndexTable: $table has no bucket spec — only bucketed " +
          "standing indexes carry the co-location contract this preserves"))
      val keys = spec.bucketColumnNames
      // read the FILES, not the table: a bucketed scan reports its hash
      // partitioning, Spark then elides the repartition below as
      // redundant, and the write splits per input file instead of per
      // bucket — one file per (fragment, bucket), which is the layout we
      // came to fix. A plain file scan keeps the explicit clustering, and
      // the repartition's HashPartitioning(keys, numBuckets) is exactly
      // the writer's bucket-id rule, so each task holds one whole bucket.
      val current = spark.table(table) // schema + column order
      // tombstone ABSORPTION rides the rewrite (the Tombstones contract's
      // compaction hook on the table medium): the PRE-REWRITE snapshot's
      // ids drop here, and only that snapshot retires after the swap —
      // whole-table rewrites have no carry fence, but a delete landing
      // DURING the rewrite must stay live (foldTombstoneSnapshot's doc)
      val clustered = foldTombstoneSnapshot(
        spark.read.schema(current.schema).parquet(meta.location.toString),
        snapshot, idCol)
        .repartition(spec.numBuckets, keys.map(col): _*)
      val w0 = clustered.write.mode("overwrite").format("parquet")
        .bucketBy(spec.numBuckets, keys.head, keys.tail: _*)
      val w1 = spec.sortColumnNames match {
        case s if s.nonEmpty => w0.sortBy(s.head, s.tail: _*)
        case _ => w0
      }
      w1.option("path", loc).saveAsTable(stagingTable)
      val graftProps = meta.properties.filter(_._1.startsWith("graft."))
      if (graftProps.nonEmpty)
        spark.sql(s"ALTER TABLE $stagingTable SET TBLPROPERTIES (" +
          graftProps.map { case (k, v) => s"'$k'='$v'" }.mkString(", ") + ")")
    }
    // the swapped table is free of the SNAPSHOT's deletes: retire exactly
    // those files (a crash before this leaves stale tombstones masking
    // absent ids — harmless, retired by the next absorb); tombstones
    // appended mid-rewrite stay live for the next absorb
    graft.util.Tombstones.clearFiles(spark, tsRoot, snapshot)
  }

  // ------------------------------------------------------------------
  // DELETE-BY-ID for the standing dedup indexes (text band, embedding
  // band, exact hash, perceptual hash) — the [[graft.util.Tombstones]]
  // contract on the TABLE medium. Without it the probes serve append-only
  // corpora: a retracted document's bands stay in the index, so it keeps
  // matching arriving batches and its id keeps re-entering pair sets
  // forever — a takedown must also leave the indexes. Tombstones live at
  // a root STABLE across the rebuild scaffold's ping-pong data locations
  // (they must survive the rewrite they'll eventually be absorbed by),
  // under the canonical column name `id` regardless of tier. Probes fold
  // them over the BOUNDED candidate frame (one fs.exists on the no-delete
  // hot path — the IVF probes' cost shape); absorption rides the rewrite
  // compactIndexTable / the rebuilds do anyway, and retires the medium
  // (table rewrites are whole-table — no carry fence on this medium).
  // ------------------------------------------------------------------

  /** The tombstone root of a standing index TABLE: derived from the data
    * location with the ping-pong toggle stripped, so the same root serves
    * across every rebuild/compaction swap. */
  private[graft] def indexTombstoneRoot(spark: SparkSession,
      table: String): String = {
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString
    s"${loc.stripSuffix("_swapa").stripSuffix("_swapb")}_ts"
  }

  /** DELETE ids from a standing dedup index table — one tombstone append
    * (single-column `ids` frame, any name; stored canonically as `id`),
    * no index rewrite. Every indexed probe (band, exact, embedding,
    * Hamming) anti-joins the ids out of its candidate frame from the next
    * probe on; [[compactIndexTable]] and the rebuilds absorb them
    * physically and retire the medium. */
  def deleteFromIndexTable(spark: SparkSession, table: String,
      ids: DataFrame): Unit =
    graft.util.Tombstones.append(
      ids.select(col(ids.columns.head).as("id")),
      indexTombstoneRoot(spark, table))

  /** Fold a table's tombstones out of a probe's candidate frame: anti-join
    * `dfCol` (the candidate frame's index-side id column) against the
    * canonical `id` tombstones — deletes-bounded, broadcast by Spark; one
    * existence check and no job when no delete ever landed. */
  private def foldIndexTombstones(df: DataFrame, table: String,
      dfCol: String): DataFrame = {
    val spark = df.sparkSession
    graft.util.Tombstones
      .idsOf(spark, indexTombstoneRoot(spark, table), "id") match {
      case Some(ts) =>
        // re-select the input's column ORDER: a USING join moves the key
        // column to the front, and downstream tuple decoders (and the
        // compaction rewrite's saveAsTable) are order-sensitive
        df.join(ts.withColumnRenamed("id", dfCol), Seq(dfCol), "left_anti")
          .select(df.columns.map(col): _*)
      case None => df
    }
  }

  /** Snapshot-scoped twin of [[foldIndexTombstones]] for the ABSORBING
    * rewrites (rebuilds + [[compactIndexTable]]): the rewrite lists the
    * tombstone data files ONCE before it starts, masks against exactly
    * that frame, and retires ONLY those files after the swap
    * ([[graft.util.Tombstones.clearFiles]]) — a [[deleteFromIndexTable]]
    * landing while the rewrite runs stays live for the next probe and the
    * next absorb instead of being cleared un-absorbed (the lost-takedown
    * window the BM25 fold protocol already defends; takedowns are
    * externally driven, nothing sequences them into the maintenance
    * slot). */
  private def foldTombstoneSnapshot(df: DataFrame,
      snapshot: Seq[org.apache.hadoop.fs.FileStatus],
      dfCol: String): DataFrame =
    graft.util.Tombstones
      .idsOfFiles(df.sparkSession, snapshot, "id") match {
      case Some(ts) =>
        df.join(ts.withColumnRenamed("id", dfCol), Seq(dfCol), "left_anti")
          .select(df.columns.map(col): _*)
      case None => df
    }

  /** The index table's own id column — what the absorbing rewrites
    * anti-join on (band/exact: doc_id, embedding: vec_id, hash: id). */
  private def indexIdColumn(spark: SparkSession, table: String): String = {
    val cols = spark.table(table).columns.toSet
    Seq("doc_id", "vec_id", "id").find(cols.contains).getOrElse(sys.error(
      s"$table carries none of the standing-index id columns"))
  }

  /** The ONE rebuild scaffold for every bucketed standing index (text
    * band, embedding band, exact hash, perceptual hash): resolve the
    * current external location, clear a crashed attempt's leftovers (the
    * staging table name and the ping-pong location are deterministic —
    * drop the catalog entry AND delete the staging files, since
    * saveAsTable into a non-empty explicit location is a CTAS error, not
    * an overwrite), materialize the rebuilt index fully via `build`, swap
    * at the metastore ([[graft.util.IndexSwap.swapTable]]), and retire the
    * old data directory. In-flight probes that planned against the old
    * files are covered by the streaming loop's retry-once. */
  private def rebuildIndexTable(spark: SparkSession, table: String)
      (build: (String, String) => Unit): Unit = {
    val current = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location.toString
    val stagingLoc = graft.util.IndexSwap.pingPongLocation(current)
    val stagingTable = s"${table}_staging"
    spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
    val sp = new org.apache.hadoop.fs.Path(stagingLoc)
    val _ = sp.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(sp, true)
    build(stagingTable, stagingLoc)
    graft.util.IndexSwap.swapTable(spark, table, stagingTable)
    val p = new org.apache.hadoop.fs.Path(current)
    val __ = p.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(p, true)
  }

  /** Append a verified batch's bands to an existing bucketed band index —
    * the append-many half of the [[writeBandIndex]] ingest contract (build
    * once, then each day's verified batch lands here after its
    * [[incrementalNearDupIndexed]] probe). The append writes with the SAME
    * bucket spec, so the table stays co-located for every subsequent probe:
    * Spark groups all of a bucket's files (across appends) into one bucket
    * read, the join key hashing is unchanged, and the index side still
    * reaches the candidate join with zero Exchange (BucketingSpec pins this
    * post-append; per-FILE sort order is kept per append, so a sort-merge
    * probe adds a local Sort over the bucket's files — no shuffle).
    *
    * The hot-bucket cap is re-applied ACROSS THE UNION at append time:
    * standing rows for the incoming keys are counted via the same
    * co-located join topology as a probe (only the small per-key count
    * frame shuffles; the index never does), and an incoming key whose
    * standing + incoming total would exceed `cap` is dropped FROM THE
    * APPEND. Invariant: after any append sequence every bucket holds at
    * most `cap` rows — same quadratic-fan-out bound as a fresh build. The
    * one drift from a full rebuild is conservative: a key that becomes hot
    * over time keeps its standing (≤ cap) rows where a rebuild would drop
    * the whole bucket, so probes may return candidates a rebuild would
    * skip — extra recall, never extra fan-out beyond the cap.
    *
    * `buckets` defaults to 0 = inherit the existing table's bucket count
    * (a mismatched spec is an AnalysisException; the build's choice is the
    * source of truth after day one).
    */
  def appendToBandIndex(batch: DataFrame, table: String, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8, buckets: Int = 0,
      maxBucketSize: Int = 1000): Unit = {
    val base = spread(batch)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
    val banded = base.select($"doc_id",
      posexplode(bandKeys($"t", shingleLen, numBands, rowsPerBand))
        .as(Seq("band", "bsig")))
    appendBandedRows(banded, table, Seq("band", "bsig"), buckets, maxBucketSize)
  }

  /** Shared append-many core for the bucketed band indexes (text keys
    * (band, bsig), embedding keys (band, key)): inherit the existing bucket
    * spec, re-apply the hot-bucket cap across the union, append co-located.
    * See [[appendToBandIndex]] for the cap-drift bound. */
  private def appendBandedRows(banded: DataFrame, table: String,
      keyCols: Seq[String], buckets: Int, maxBucketSize: Int): Unit = {
    val spark = banded.sparkSession
    // `buckets` <= 0 (the default) inherits the EXISTING table's bucket
    // count — an append with a mismatched spec is an AnalysisException, and
    // the build's choice is the one source of truth after day one
    val numBuckets =
      if (buckets > 0) buckets
      else spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec
        .map(_.numBuckets)
        .getOrElse(throw new IllegalArgumentException(
          s"appendBandedRows: table $table has no bucket spec — was it " +
            "written by writeBandIndex/writeEmbeddingBandIndex?"))
    val keys = keyCols.map(col)
    val kept =
      if (maxBucketSize <= 0) banded
      else {
        val newCounts = banded.groupBy(keys: _*)
          .agg(count(lit(1)).as("n_new"))
        // standing counts for the INCOMING keys only: the index side of this
        // join reads co-located (bucketed on the key), the per-key count
        // frame is what shuffles — the probe's exact topology, never a full
        // re-aggregation of the standing index
        // merge hint: see bandIndexCandidates — the incoming key frame can
        // be numBands×|batch| keys with a tiny pre-explode estimate
        val oldCounts = spark.table(table)
          .join(newCounts.select(keys: _*).hint("merge"), keyCols)
          .groupBy(keys: _*).agg(count(lit(1)).as("n_old"))
        val hot = newCounts
          .join(oldCounts, keyCols, "left")
          .filter($"n_new" + coalesce($"n_old", lit(0L)) > maxBucketSize)
          .select(keys: _*)
        banded.join(broadcast(hot), keyCols, "left_anti")
      }
    // one file per bucket per append (not banding-tasks × buckets): the
    // writeBandIndex pre-clustering, applied to the append half — a
    // standing index probed every trigger pays file-open cost per PROBE,
    // so append-time fragmentation is the expensive kind (guide §6)
    kept.repartition(numBuckets, keys: _*)
      .write.mode("append").format("parquet")
      .bucketBy(numBuckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(table)
  }

  /** Append a batch's sign-LSH bands to a persisted EMBEDDING band index —
    * the append-many half of [[writeEmbeddingBandIndex]]'s contract, same
    * union-wide hot-bucket cap and co-location guarantees as the text
    * [[appendToBandIndex]]. Plane geometry must match the build (the seed
    * reproduces the hyperplanes). */
  def appendToEmbeddingBandIndex(batch: DataFrame, table: String,
      numBands: Int = 64, rowsPerBand: Int = 2, dim: Int = 64,
      seed: Long = 7L, buckets: Int = 0, maxBucketSize: Int = 1000): Unit = {
    val planes = gaussianPlanes(numBands * rowsPerBand, dim, seed)
    val banded = prepareEmbeddings(batch)
      .select($"vec_id", posexplode(graft.functions.VectorExpressions
        .signLshBands($"embedding", planes, rowsPerBand)).as(Seq("band", "key")))
    appendBandedRows(banded, table, Seq("band", "key"), buckets, maxBucketSize)
  }

  /** Incremental near-dup against a PERSISTED band index (query-many half
    * of [[writeBandIndex]]): candidates come from batch-bands × the bucketed
    * index table — the corpus is never re-banded — then exact-Jaccard verify
    * fetches text only for candidate corpus docs from `corpus`. Same rows as
    * [[incrementalNearDupOf]] on the same geometry (the index was built with
    * the same cap). */
  /** Candidate (new_doc_id, dup_of_doc_id) pairs from banding `batch`
    * against the persisted index — the probe's dominant stage, exposed so
    * BucketingSpec can pin its plan (zero Exchange above the index scan)
    * even though [[incrementalNearDupIndexed]] materializes it eagerly. */
  def bandIndexCandidates(indexTable: String, batch: DataFrame,
      shingleLen: Int = 5, numBands: Int = 128,
      rowsPerBand: Int = 8): DataFrame = {
    val spark = batch.sparkSession
    val batchBanded = spread(batch)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
      .select($"doc_id",
        posexplode(bandKeys($"t", shingleLen, numBands, rowsPerBand))
          .as(Seq("band", "bsig")))
    // MERGE hint: the banded batch side must never be broadcast. Catalyst
    // sizes it from the PRE-explode child (a rate/range/streaming source
    // estimates tiny), so without the hint it builds a numBands×|batch|-row
    // hashed relation on the driver — single-threaded, and an OOM at
    // production batch sizes. The designed topology is the hint's: batch
    // side exchanges to the index's bucketing, index side streams in place
    // (zero Exchange above its scan, pinned in BucketingSpec).
    // retractions fold out of the bounded candidate frame — a deleted
    // doc's bands may still sit in the index until absorption, but it
    // must stop pairing from the delete on (deleteFromIndexTable)
    foldIndexTombstones(
      batchBanded.as("l").hint("merge")
        .join(spark.table(indexTable).as("r"),
          col("l.band") === col("r.band") && col("l.bsig") === col("r.bsig"))
        .select(col("l.doc_id").as("new_doc_id"),
          col("r.doc_id").as("dup_of_doc_id"))
        .distinct(),
      indexTable, "dup_of_doc_id")
  }

  def incrementalNearDupIndexed(corpus: DataFrame, indexTable: String,
      batch: DataFrame, shingleLen: Int = 5, numBands: Int = 128,
      rowsPerBand: Int = 8, threshold: Double = 0.8): DataFrame = {
    val batchBase = spread(batch)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
    // The candidate set feeds BOTH the verify spine and the corpus-side
    // semi filter below; materialize it once (localCheckpoint — reliable
    // `checkpoint` on a cluster, same note as dupClusters) so the banded
    // index join, the probe's dominant stage, runs once per probe instead
    // of once per use.
    val candidates =
      bandIndexCandidates(indexTable, batch, shingleLen, numBands, rowsPerBand)
        .localCheckpoint()
    // Fetch text for CANDIDATE corpus docs only: the standing corpus is
    // orders of magnitude larger than one batch's candidate set, so the
    // verify side semi-filters the corpus scan with the (batch-bounded)
    // candidate ids broadcast — the corpus is never shingled or shuffled
    // wholesale per probe, which is what makes the PER-MICRO-BATCH probe
    // of DedupStream affordable against a standing warehouse.
    val candIds = candidates.select($"dup_of_doc_id")
    val corpusSets = spread(corpus)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
      .join(broadcast(candIds), $"doc_id" === $"dup_of_doc_id", "left_semi")
      // sorted producer + merge-intersect (SetOpsImpl.sortedIntersectSize)
      .select($"doc_id".as("dup_of_doc_id"),
        graft.functions.TextExpressions.charShinglesSorted($"t", shingleLen)
          .as("b_sh"))
    val batchSets = batchBase.select($"doc_id".as("new_doc_id"),
      graft.functions.TextExpressions.charShinglesSorted($"t", shingleLen)
        .as("a_sh"))
    candidates
      .join(batchSets, "new_doc_id")
      .join(corpusSets, "dup_of_doc_id")
      .withColumn("inter",
        graft.functions.TextExpressions.sortedIntersectSize($"a_sh", $"b_sh"))
      .withColumn("jaccard", round($"inter".cast("double") /
        (size($"a_sh") + size($"b_sh") - $"inter"), 4))
      .filter($"jaccard" >= threshold)
      .select($"new_doc_id", $"dup_of_doc_id", $"jaccard")
  }

  /** Registered query: the build-once/probe-many incremental path — band
    * index persisted bucketed (once per process; the bench's untimed warmup
    * absorbs the build, mirroring `ivf_probe_only`), then the batch probed
    * against it. Same oracle SQL as `incremental_near_dup`: the index is an
    * execution-layout change, not a semantic one. */
  def incrementalNearDupIndexedEntry(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val key = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_band_index_$key"
    if (!spark.catalog.tableExists(table))
      // per-process external location (same scheme as Similarity's IVF
      // index path): concurrent runs never race, stale dirs never collide,
      // and the shutdown hook removes the dir at JVM exit
      writeBandIndex(docs.filter($"doc_id" % 10 =!= 0), table,
        location = Some(
          s"${graft.util.TmpDirs.perProcessDir("graft_bandidx")}/$key"))
    // ordered output: the probe's candidate stage is an eagerly
    // materialized checkpoint, which makes raw row order run-dependent —
    // the registered entry pins it (trivial sort; the result is pair-scale)
    incrementalNearDupIndexed(docs.filter($"doc_id" % 10 =!= 0), table,
      docs.filter($"doc_id" % 10 === 0))
      .orderBy($"new_doc_id", $"dup_of_doc_id")
  }

  /** Registered query (HASH-CHECKED): the band-index DELETE lifecycle —
    * the dedup twin of `ivf_topk_deleted`. The index is built over the
    * standing corpus, then a junk slice is APPENDED (each batch doc's
    * exact text under a disjoint +2·10⁶ id namespace — every junk doc
    * would pair with the batch at jaccard 1.0 and disturb the result),
    * then DELETED ([[deleteFromIndexTable]] tombstones), then physically
    * ABSORBED ([[compactIndexTable]]'s rewrite, which also retires the
    * medium). The probe afterwards must return exactly
    * [[incrementalNearDupIndexedEntry]]'s rows — append∘delete∘absorb is
    * the identity on the index's semantics — so the entry shares
    * `incremental_near_dup`'s oracle, making the table-medium tombstone
    * fold and the absorbing rewrite DuckDB-replayed. The corpus frame
    * passed to the probe deliberately INCLUDES the junk texts: a missed
    * fold/absorb would verify them at 1.0 and fail the hash, so the
    * retraction is load-bearing, not masked by the verify join.
    * spec:DedupStreamSpec pins the pre-absorb (fold-only) stage
    * cross-batch; spec:TombstoneSpec the embedding/hash tiers. */
  def incrementalNearDupDeletedEntry(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val junk = batch.select(($"doc_id" + 2000000L).as("doc_id"), $"text")
    val key = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_band_index_del_$key"
    if (!spark.catalog.tableExists(table)) {
      writeBandIndex(corpus, table, location = Some(
        s"${graft.util.TmpDirs.perProcessDir("graft_bandidx_del")}/$key"))
      appendToBandIndex(junk, table)
      deleteFromIndexTable(spark, table, junk.select($"doc_id"))
      compactIndexTable(spark, table)
      require(!graft.util.Tombstones.exists(spark,
        indexTombstoneRoot(spark, table)),
        "absorbing compaction did not retire the table-medium tombstones")
    }
    incrementalNearDupIndexed(
      corpus.select($"doc_id", $"text").unionByName(junk), table, batch)
      .orderBy($"new_doc_id", $"dup_of_doc_id")
  }

  /** Materialize the standing corpus's EXACT-HASH index as a bucketed
    * table: one row per (h = xxhash64(text), doc_id), bucketed+sorted by
    * `h` — the cheap first tier of the tiered incremental probe
    * ([[tieredIncrementalNearDupIndexed]]). Web-crawl firehoses are heavy
    * with byte-identical re-fetches; catching them here costs one hash +
    * one co-located equi-join per batch instead of the 128-band explode
    * the near-dup tier pays. Same build-once/append-many contract as
    * [[writeBandIndex]]: only the batch side ever shuffles, and the same
    * hot-key cap bounds fan-out when one text stands duplicated beyond
    * `maxBucketSize` (the band index drops such texts' buckets for the
    * same reason).
    */
  def writeExactIndex(docs: DataFrame, table: String, shingleLen: Int = 5,
      buckets: Int = 32, maxBucketSize: Int = 1000,
      location: Option[String] = None): Unit = {
    val hashed = dropHotBuckets(
      spread(docs)
        .select($"doc_id", coalesce($"text", lit("")).as("t"))
        .filter(length($"t") >= shingleLen)
        .select(xxhash64($"t").as("h"), $"doc_id"),
      Seq("h"), maxBucketSize)
    // pre-cluster to the bucket rule — `buckets` files, not tasks×buckets
    // (writeBandIndex's read-side small-file rationale, guide §6)
    val writer = hashed.repartition(buckets, $"h")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "h").sortBy("h")
    location.fold(writer)(writer.option("path", _)).saveAsTable(table)
  }

  /** Append a verified batch's exact hashes to an existing exact index —
    * the append-many half of [[writeExactIndex]] (same union-capped
    * topology as [[appendToBandIndex]]). */
  def appendToExactIndex(batch: DataFrame, table: String,
      shingleLen: Int = 5, buckets: Int = 0,
      maxBucketSize: Int = 1000): Unit = {
    val hashed = spread(batch)
      .select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= shingleLen)
      .select(xxhash64($"t").as("h"), $"doc_id")
    appendBandedRows(hashed, table, Seq("h"), buckets, maxBucketSize)
  }

  /** Tier-1 candidate probe of the exact-hash index: hash the batch texts
    * and equi-join the bucketed index on `h` — returns (new_doc_id, t,
    * dup_of_doc_id) HASH matches, byte-verified by the caller
    * ([[tieredIncrementalNearDupIndexed]]). Merge hint for the same reason
    * as [[bandIndexCandidates]]: the batch side's pre-compute size
    * estimate (rate/range/streaming sources read tiny) must not turn into
    * a driver-side broadcast of the whole batch. */
  def exactIndexCandidates(exactTable: String, batch: DataFrame,
      shingleLen: Int = 5): DataFrame = {
    val spark = batch.sparkSession
    foldIndexTombstones( // retractions fold out (see bandIndexCandidates)
      spread(batch)
        .select($"doc_id", coalesce($"text", lit("")).as("t"))
        .filter(length($"t") >= shingleLen)
        .withColumn("h", xxhash64($"t")).as("l")
        .hint("merge")
        .join(spark.table(exactTable).as("r"), col("l.h") === col("r.h"))
        .select(col("l.doc_id").as("new_doc_id"), col("l.t").as("t"),
          col("r.doc_id").as("dup_of_doc_id")),
      exactTable, "dup_of_doc_id")
  }

  /** TIERED incremental probe — exact tier first, band tier for the rest.
    * The streaming ingest loop's cost profile is dominated by the band
    * tier's numBands×|batch| explode + index join; a firehose's exact
    * re-fetches don't need any of it. Tier 1 probes the exact-hash index
    * ([[writeExactIndex]]; hash matches are verified by byte equality
    * against the candidate corpus texts, so xxhash64 collisions cannot
    * fabricate a pair) and reports each match as a (new_doc_id,
    * dup_of_doc_id, jaccard = 1.0) pair; tier 2 runs the full
    * [[incrementalNearDupIndexed]] band probe over ONLY the batch docs
    * with no exact twin.
    *
    * Semantics are FIRST-TIER-WINS: a batch doc with an exact twin reports
    * its exact twins only, even if it also has non-identical near-dups in
    * the corpus. The dedup DECISION (is this doc a duplicate?) is
    * unchanged from the untiered probe — an exact twin is itself a
    * jaccard-1.0 pair ≥ any threshold — only the per-doc pair LIST narrows
    * (TieredDedupSpec pins decision parity). Both tiers keep the index
    * topology: index sides co-located bucketed, only the batch and the
    * pair-bounded verify frames move.
    */
  def tieredIncrementalNearDupIndexed(corpus: DataFrame, bandTable: String,
      exactTable: String, batch: DataFrame, shingleLen: Int = 5,
      numBands: Int = 128, rowsPerBand: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val exactCand = exactIndexCandidates(exactTable, batch, shingleLen)
    // collision-proof verify: fetch candidate corpus texts only (the
    // candidate set is batch-bounded, broadcast semi — the corpus itself
    // never shuffles), then require byte equality
    val candIds = exactCand.select($"dup_of_doc_id")
    val corpusTexts = spread(corpus)
      .select($"doc_id", coalesce($"text", lit("")).as("ct"))
      .join(broadcast(candIds), $"doc_id" === $"dup_of_doc_id", "left_semi")
      .select($"doc_id".as("dup_of_doc_id"), $"ct")
    // materialized once (localCheckpoint, as the band probe's candidate
    // stage): the exact pairs feed both the output and the tier-2 carve
    val exactPairs = exactCand.join(corpusTexts, "dup_of_doc_id")
      .filter($"t" === $"ct")
      .select($"new_doc_id", $"dup_of_doc_id",
        lit(1.0).cast("double").as("jaccard"))
      .localCheckpoint()
    val exactIds = exactPairs.select($"new_doc_id").distinct()
    val rest = spread(batch)
      .join(broadcast(exactIds), $"doc_id" === $"new_doc_id", "left_anti")
    exactPairs.unionByName(
      incrementalNearDupIndexed(corpus, bandTable, rest, shingleLen,
        numBands, rowsPerBand, threshold))
  }

  /** Registered query: the tiered build-once/probe-many path on a RE-CRAWL
    * day — the whole fixture corpus stands (both indexes persisted bucketed
    * once per process, untimed warmup, as
    * [[incrementalNearDupIndexedEntry]]); the batch re-ingests every 10th
    * doc under a fresh id namespace (+1e6) with every 20th doc's text
    * UPDATED (suffixed), the [[bloomIncrementalDedup]] derivation. The
    * unmodified re-fetches are exact twins of their originals and resolve
    * in tier 1; the updated pages have no exact twin and fall through to
    * the band tier, where they pair with their originals near jaccard
    * 0.95 — both tiers are exercised, which the %10 split (zero exact
    * cross-split pairs in the fixtures) would not do. The oracle replays
    * the first-tier-wins semantics directly: exact pairs by text equality
    * at jaccard 1.0, the brute-force shingle-jaccard tier over the
    * remaining batch docs. */
  def tieredIncrementalDedupEntry(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val key = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val bandTable = s"graft_band_index_full_$key"
    val exactTable = s"graft_exact_index_full_$key"
    if (!spark.catalog.tableExists(bandTable))
      writeBandIndex(docs, bandTable, location = Some(
        s"${graft.util.TmpDirs.perProcessDir("graft_bandidx_full")}/$key"))
    if (!spark.catalog.tableExists(exactTable))
      writeExactIndex(docs, exactTable, location = Some(
        s"${graft.util.TmpDirs.perProcessDir("graft_exactidx_full")}/$key"))
    val batch = docs.filter($"doc_id" % 10 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      when($"doc_id" % 20 === 0,
        concat(coalesce($"text", lit("")), lit(" v2")))
        .otherwise($"text").as("text"))
    tieredIncrementalNearDupIndexed(docs, bandTable, exactTable, batch)
      .orderBy($"new_doc_id", $"dup_of_doc_id")
  }

  /** Near-duplicate FAMILIES: connected components over the near-dup pair
    * graph, labeling every member doc with its cluster's minimum doc_id.
    * The step a production dedup pipeline needs after [[nearDupPairs]] —
    * pairwise output alone can't answer "keep one doc per family" when
    * similarity is not transitive (a~b, b~c, a≁c must still collapse to one
    * family), which is exactly what LSH chains produce.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the minimum label among itself and its neighbors, lineage cut
    * per round (localCheckpoint here; use reliable `checkpoint` on a
    * cluster). Each round is one shuffle join + hash-agg over the EDGE
    * list, so cost is O(rounds × |E|) — never quadratic, and |E| is the
    * (already skew-capped) LSH pair list. Rounds needed = graph diameter:
    * dup families from banded LSH are near-cliques, so 2-3 in practice,
    * with a defensive cap (the classic alternating small-star/large-star
    * halves worst-case path graphs; unnecessary at clique-like diameters).
    * The driver-side loop is iterate-until-fixpoint over counts, not a
    * data collect — the same legitimate driver pattern as Lloyd iterations.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame =
    dupClustersWithRounds(pairs, maxIters)._1

  /** [[dupClusters]] plus the number of propagation rounds actually run —
    * exposed so DedupSpec can PIN the pointer-doubling round complexity
    * (≤ ⌈log₂ diameter⌉ + small constant on a worst-case chain graph)
    * the way PlanShapeSpec pins exchanges: the O(log diameter) claim is a
    * measured property, not a comment. */
  def dupClustersWithRounds(pairs: DataFrame, maxIters: Int = 25): (DataFrame, Int) = {
    // Cut lineage ONCE before the loop: `pairs` is the entire MinHash-LSH
    // pipeline, and without this cut every propagation round (and both
    // union branches below) re-executes shingling → minhash → banding →
    // self-join → exact verify from the parquet scan up — measured 33.4 s
    // vs ~3 s at sf0.1, and the difference between O(rounds × |E|) and
    // O(rounds × full-pipeline) at 100×. localCheckpoint here; use
    // reliable `checkpoint` on a cluster.
    val p = pairs.select($"a_doc_id", $"b_doc_id").localCheckpoint()
    // SCALE-ADAPTIVE loop parallelism: every in-loop exchange (the edge
    // join, the min-label hash-agg, the doubling join) is sized by
    // spark.sql.shuffle.partitions, a constant tuned for the CORPUS scan —
    // but the loop runs over the (already materialized, already counted)
    // pair graph, which is orders of magnitude smaller. Sizing the loop's
    // shuffles from the edge list's actual row count (~64 MB per
    // partition at 32 B/edge-row, the AQE advisory target) instead of the
    // session constant removes rounds × stages × (constant − needed)
    // empty-task overhead at fixture scale AND over-splitting at 100 TB —
    // a 1e9-edge graph gets ~500 partitions of ~64 MB, not whatever the
    // corpus needed. The count is one cheap job over checkpointed blocks;
    // set/restore mirrors graft.streaming.Soak's documented pattern (the
    // conf is session-scoped and the loop is the only planner under it —
    // every frame that escapes this method is checkpoint-materialized
    // BEFORE the restore, so no caller plans under the loop's setting).
    val spark = p.sparkSession
    val nEdges = p.count()
    val loopParts = math.max(1L, math.min(nEdges * 32L / (64L << 20) + 1L,
      1000000L))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    // AQE gated on the SAME size signal (scale-adaptive, not a local[k]
    // constant): when the derived loop partition count does not even fill
    // the session's default parallelism, the partitions are already exactly
    // advisory-sized, so AQE has nothing to coalesce and no skew wide
    // enough to split — but it still turns every in-loop shuffle stage into
    // its own re-optimization job, and rounds × stages of per-job latency
    // IS the loop's wall cost at that size (measured: 114 jobs for a
    // 3-round fixture loop). Above the threshold (a pair graph wide enough
    // to fill the cluster) AQE stays on for exactly the reason it exists:
    // runtime skew-splitting of hot-label joins.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val loopAqe = loopParts > prevParts.toLong
    try {
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    spark.conf.set("spark.sql.adaptive.enabled", loopAqe.toString)
    val sym = p
      .select($"a_doc_id".as("src"), $"b_doc_id".as("dst"))
      .union(p.select($"b_doc_id".as("src"), $"a_doc_id".as("dst")))
    var labels = sym.select($"src".as("node")).distinct()
      .withColumn("label", $"node")
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // every node keeps min(own, neighbors'), then pointer doubling
      // follows the just-computed label one more hop (label[label[node]]).
      // Labels start at the node id and only ever decrease, so label[x] <= x
      // and the hop is monotone — the round count drops from O(diameter)
      // to O(log diameter), which is the difference between 11
      // scheduler-bound rounds and 4 on the long chains a cosine pair
      // graph produces. ONE materialization per round: `step` is
      // referenced twice below, but both references re-run only a tiny
      // edge join off the checkpointed inputs — cheaper than a second
      // checkpoint job, and per-round fixed job overhead is what
      // dominates an iteration over any edge list the cluster holds.
      val step = propagateMinLabel(sym, labels)
      val parents = step
        .select($"node".as("p_node"), $"new_label".as("p_label"))
      val doubled = step
        .join(parents, step("new_label") === parents("p_node"), "left")
        .select($"node", $"label",
          coalesce($"p_label", $"new_label").as("next_label"))
        .localCheckpoint()
      changed = doubled.filter($"next_label" =!= $"label").count()
      labels = doubled.select($"node", $"next_label".as("label"))
      iter += 1
    }
    // A graph needing > maxIters doubling rounds must fail loudly, not
    // return partially-propagated labels that silently mislabel clusters.
    if (changed > 0) throw new IllegalStateException(
      s"dupClusters: $changed labels still changing after $maxIters rounds " +
        "— pair-graph diameter exceeds 2^rounds; raise maxIters")
    (labels.select($"node".as("doc_id"), $"label".as("cluster_id")), iter)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** One min-label propagation round — the loop body of [[dupClusters]],
    * exposed so [[graft.Explain]] can dump the PER-ROUND physical plan (an
    * iterative query has no single plan; the executed per-round cost is
    * exactly this: one shuffle join + hash-agg over the materialized edge
    * list, never a re-derivation of the pairs). */
  def propagateMinLabel(sym: DataFrame, labels: DataFrame): DataFrame = {
    val nbrMin = sym.join(labels, sym("dst") === labels("node"))
      .groupBy($"src").agg(min($"label").as("nbr_label"))
    labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
      .select($"node", $"label",
        least($"label", coalesce($"nbr_label", $"label")).as("new_label"))
  }

  /** Registered form of [[dupClusters]] over [[nearDupPairs]]' output:
    * (doc_id, cluster_id) for every doc in some near-dup family. Oracle =
    * a DuckDB recursive CTE computing min-reachable-label over the same
    * brute-force pair set. */
  def nearDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    dupClusters(nearDupPairs(spark, sfDir))

  /** Embedding-space dup FAMILIES: [[dupClusters]] is pair-source-agnostic,
    * so the same label propagation runs over [[embeddingNearDup]]'s cosine
    * pair graph — "keep one vector per semantic family", the step after
    * pairwise semantic dedup exactly as [[nearDupClusters]] is for text.
    * Output: (vec_id, cluster_id); oracle = recursive CTE over the
    * brute-force cosine pair set. */
  def embeddingDupClusters(spark: SparkSession, sfDir: String): DataFrame =
    dupClusters(embeddingNearDup(spark, sfDir)
      .select($"a_vec_id".as("a_doc_id"), $"b_vec_id".as("b_doc_id")))
      .select($"doc_id".as("vec_id"), $"cluster_id")

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication") — CLUSTER-SCOPED semantic
    * pruning: k-means partitions the embedding space, pairwise cosine runs
    * only WITHIN each cluster, and a vector is dropped when some
    * smaller-id cluster-mate sits at ≥ `threshold` (the deterministic
    * keep-lowest-id form of the paper's keep-one-per-dup-group rule;
    * semantic dups land in the same cell or they were not dups the coarse
    * quantizer could see — the paper's own accepted approximation, and the
    * complement of [[embeddingNearDup]]'s LSH tier: LSH bounds the MISS
    * probability analytically, SemDeDup bounds the PAIR SPACE by Σ|cell|²
    * instead of n²).
    *
    * Reuses [[Similarity.standingIndex]] — the ONE k-means fit behind
    * every fixture IVF entry — so the `ivf_assignments` dump doubles as
    * this entry's oracle input: DuckDB replays the in-cell pair scan +
    * rounded-cosine drop rule from the dumped cells and the raw vectors.
    *
    * Scale: the pair join is cell-co-partitioned (one shuffle on `cell`,
    * then per-cell local pairing); cluster sizes are bounded by the
    * quantizer's balance — production SemDeDup picks k so E|cell| ≈
    * corpus/k stays re-pairable, exactly the nlist sizing rule the IVF
    * docstrings pin. Output: every assigned vector with its cell and an
    * `is_kept` 0/1 decision (the audit shape — a release build composes
    * `WHERE is_kept = 1`). */
  def semdedupPruned(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3): DataFrame = {
    val assigned = standingAssigned(spark, sfDir)
    assigned
      .join(broadcast(semdedupDropped(assigned, threshold)
        .withColumn("hit", lit(1))), Seq("vec_id"), "left")
      .select($"vec_id", $"cell",
        when($"hit".isNull, 1).otherwise(0).as("is_kept"))
  }

  /** The standing fixture fit's assignments with embeddings attached —
    * the shared input of the cluster-scoped pruning family
    * ([[semdedupPruned]], [[prototypePruned]], [[d4Pruned]]). */
  private def standingAssigned(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.standingIndex(spark, sfDir).bucketed
      .select($"vec_id", $"embedding", $"cell".cast("int").as("cell"))

  /** SemDeDup's drop set: vec_ids with a smaller-id cluster-mate at
    * rounded cosine ≥ threshold. In-cell pairs only (Σ|cell|² pair space,
    * cell-co-partitioned join) — the loop body of [[semdedupPruned]],
    * shared with [[d4Pruned]]. */
  private def semdedupDropped(assigned: DataFrame,
      threshold: Double): DataFrame =
    assigned.as("l")
      .join(assigned.as("r"),
        col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
      .filter(round(Similarity.cosine(col("l.embedding"), col("r.embedding")), 6)
        >= threshold)
      .select(col("r.vec_id").as("vec_id")).distinct()

  /** The standing fit's coarse centroids as a k-row (cell, centroid)
    * frame, float-cast to match the corpus embedding dtype (so the scoring
    * arithmetic — float inputs widened to double, sequential sum — is
    * identical between [[Similarity.cosine]] and the DuckDB replay over
    * the [[protoCentroids]] dump). k rows; always broadcast. */
  private def centersDf(spark: SparkSession,
      centers: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centers.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toFloat).toSeq) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Registered dump (it IS the oracle input, the `ivf_assignments`
    * contract): the standing fit's k coarse centroids, comma-joined float
    * values — what [[prototypePruned]]/[[d4Pruned]] score against, dumped
    * so DuckDB replays the cosine from the exact same numbers
    * (k-means centroids are not derivable in SQL; the cosine, ranking and
    * keep rule computed FROM them are, and those are what gets checked). */
  def protoCentroids(spark: SparkSession, sfDir: String): DataFrame =
    centersDf(spark, Similarity.standingIndex(spark, sfDir).centers)
      .select($"cell",
        // widen float → double BEFORE stringifying: a float's shortest
        // string re-parsed as DOUBLE is NOT the widened float (0.1f prints
        // "0.1", but (double)"0.1" ≠ (double)0.1f); the double's shortest
        // string round-trips exactly, so DuckDB scores with bit-identical
        // inputs to the Spark expression (which widens floats to double)
        expr("array_join(transform(centroid, x -> cast(cast(x AS double) AS string)), ',')")
          .as("centroid"))

  /** Prototype-based data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning" — the
    * SSL-prototypes metric): score each vector by cosine to its cluster's
    * k-means centroid; the MOST prototypical (easiest, most redundant)
    * fraction of each cluster is dropped, the informative tail kept. The
    * per-cluster quota (vs a global score cutoff) is the paper's
    * class-balanced form — it prevents the prune from emptying dense
    * clusters' sparse neighbors.
    *
    * Reuses the ONE standing k-means fit behind every fixture IVF/SemDeDup
    * entry, so `ivf_assignments` + [[protoCentroids]] are the oracle
    * inputs: DuckDB replays cosine-to-centroid, the per-cell rank, and the
    * integer drop quota from the dumps and raw vectors.
    *
    * Determinism: proto_cos is rounded to 6 dp with vec_id tiebreak before
    * ranking; the drop quota is exact integer arithmetic
    * (`cell_n * dropNum DIV dropDen`), never a float multiply.
    *
    * Scale: centroids are k rows (broadcast); scoring is one codegen
    * cosine per vector, no shuffle; rank is one window per cell (single
    * shuffle on `cell` — same key the standing index is already bucketed
    * by, so a co-located layout makes even that exchange-free). Output is
    * the audit shape: every vector with its score and 0/1 decision. */
  def prototypePruned(spark: SparkSession, sfDir: String,
      dropNum: Int = 1, dropDen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = Similarity.standingIndex(spark, sfDir)
    val scored = standingAssigned(spark, sfDir)
      .join(broadcast(centersDf(spark, idx.centers)), Seq("cell"))
      .withColumn("proto_cos",
        round(Similarity.cosine($"embedding", $"centroid"), 6))
    val w = Window.partitionBy($"cell")
      .orderBy($"proto_cos".desc, $"vec_id".asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .withColumn("cell_n", count(lit(1)).over(Window.partitionBy($"cell")))
      .select($"vec_id", $"cell", $"proto_cos",
        when($"rnk" <= expr(s"cell_n * $dropNum DIV $dropDen"), 0)
          .otherwise(1).as("is_kept"))
  }

  /** IVF index-health audit — the table an index operator watches to
    * decide when the coarse quantizer needs re-training: per cell, the
    * member count (balance) and the mean cosine-to-own-centroid in exact
    * integer micros (quantization quality; appends assign to the nearest
    * FROZEN centroid, so drifted ingest shows up here as falling means and
    * swelling cells long before recall degrades). Mean is `sum DIV n` over
    * micro-quantized cosines — no float aggregation, so the DuckDB replay
    * (same dumps as [[prototypePruned]]) is bit-exact.
    *
    * Scale: one codegen cosine per vector (centroids broadcast) + one
    * partial-aggregated groupBy(cell) — k result rows. */
  def ivfQuantizationError(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = Similarity.standingIndex(spark, sfDir)
    standingAssigned(spark, sfDir)
      .join(broadcast(centersDf(spark, idx.centers)), Seq("cell"))
      .withColumn("cos_micros",
        graft.util.Cols.micros6(Similarity.cosine($"embedding", $"centroid")))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vecs"), sum($"cos_micros").as("sum_cos_micros"))
      .select($"cell", $"n_vecs", $"sum_cos_micros",
        expr("sum_cos_micros DIV n_vecs").as("mean_cos_micros"))
  }

  /** D4 (Tirumala et al. 2023, "D4: Improving LLM pretraining via document
    * de-duplication and diversification"): SemDeDup first (drop in-cluster
    * semantic duplicates), THEN prototype-prune the survivors — dedup
    * removes the redundancy spikes, the prototype pass then diversifies
    * what remains. Composition of [[semdedupDropped]] and
    * [[prototypePruned]]'s rank over the SURVIVOR set (quotas are computed
    * on survivor cell sizes — pruning against pre-dedup sizes would
    * over-prune clusters that lost many duplicates). Same standing fit
    * and centroids as the parts (the paper re-uses its clustering too).
    *
    * Output audit shape: every assigned vector with both stage decisions
    * (`semdedup_kept`, then final `is_kept`); a release build composes
    * `WHERE is_kept = 1`. Scale = the parts': Σ|cell|² pair scan + one
    * broadcast cosine + one window, all cell-co-partitioned. */
  def d4Pruned(spark: SparkSession, sfDir: String, threshold: Double = 0.3,
      dropNum: Int = 1, dropDen: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = Similarity.standingIndex(spark, sfDir)
    val assigned = standingAssigned(spark, sfDir)
    // lineage cut: `flagged` fans out into the survivor ranking AND the
    // final decision join — without the cut each reference re-runs the
    // Σ|cell|² semdedup pair scan (verified in the round-10 plan dump)
    val flagged = assigned
      .join(broadcast(semdedupDropped(assigned, threshold)
        .withColumn("hit", lit(1))), Seq("vec_id"), "left")
      .withColumn("semdedup_kept", when($"hit".isNull, 1).otherwise(0))
      .localCheckpoint()
    val w = Window.partitionBy($"cell")
      .orderBy($"proto_cos".desc, $"vec_id".asc)
    val ranked = flagged.filter($"semdedup_kept" === 1)
      .join(broadcast(centersDf(spark, idx.centers)), Seq("cell"))
      .withColumn("proto_cos",
        round(Similarity.cosine($"embedding", $"centroid"), 6))
      .withColumn("rnk", row_number().over(w))
      .withColumn("cell_n", count(lit(1)).over(Window.partitionBy($"cell")))
      .select($"vec_id",
        when($"rnk" <= expr(s"cell_n * $dropNum DIV $dropDen"), 1)
          .otherwise(0).as("proto_dropped"))
    flagged.join(ranked, Seq("vec_id"), "left")
      .select($"vec_id", $"cell", $"semdedup_kept",
        when($"semdedup_kept" === 0, 0)
          .when($"proto_dropped" === 1, 0).otherwise(1).as("is_kept"))
  }

  /** Cluster-BALANCED sampling — the diversity-selection member of the
    * cluster-scoped curation family ([[semdedupPruned]] drops semantic
    * twins, [[prototypePruned]] drops the too-easy center mass; THIS caps
    * every cluster at `perCell` members so dominant modes cannot flood a
    * training mix): per coarse cell, keep the `perCell` vectors with the
    * smallest md5(vec_id) — an unbiased within-cell sample that is a pure
    * function of the membership set (the group-level
    * [[graft.functions.Aggregators.BottomKByHash]] semantics at a fixed
    * per-cluster quota), so it is stable across runs, partitionings, and
    * engines. Cells below the quota keep everything.
    *
    * Scale: the rank is the salted two-phase top-k
    * ([[Similarity]]'s `topKPerQuery` shape) — a local rank within
    * (cell, salt) prunes each bucket to `perCell`, then the global rank
    * sees ≤ salts×perCell rows per cell, so one giant cluster never
    * funnels through a single window task. Fully oracle-checked: DuckDB
    * replays the md5 ranking from the `ivf_assignments` dump. */
  def clusterBalancedSample(spark: SparkSession, sfDir: String,
      perCell: Int = 40, salts: Int = 8): DataFrame =
    graft.util.Cols.saltedTopK(
      standingAssigned(spark, sfDir)
        .select($"vec_id", $"cell", md5($"vec_id".cast("string")).as("__h")),
      Seq($"cell"), Seq($"__h", $"vec_id"), $"vec_id", perCell, salts)
      .select($"cell", $"rk", $"vec_id")

  /** Seeded Gaussian hyperplanes — deterministic across runs and engines. */
  private def gaussianPlanes(numPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Embedding-cosine near-duplicate pairs: sign-LSH banded candidates +
    * exact cosine verification — the embedding-space member of the dedup
    * family (exact / MinHash / SimHash / this).
    *
    * Scale design mirrors [[nearDupPairs]]: explode bands → self-equi-join on
    * (band, key) → distinct candidates → exact cosine (codegen'd `zip_with`/
    * `aggregate`, see [[Similarity.cosine]]) ≥ threshold. Never all-pairs *at
    * production thresholds*: at cosine ≥ 0.95 with r=8,b=32 a random pair
    * collides in ~1e-2 of buckets while a qualifying pair is missed with
    * p≈2e-8. The registered test entry runs threshold=0.4 (the synthetic
    * fixture has no truly-near pairs; max pair cosine ≈ 0.51) with r=2,b=64 —
    * miss p≈7e-15, so the brute-force DuckDB oracle matches exactly.
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.4, numBands: Int = 64, rowsPerBand: Int = 2,
      dim: Int = 64, seed: Long = 7L): DataFrame =
    embeddingNearDupOf(Tables.embeddings(spark, sfDir), threshold, numBands,
      rowsPerBand, dim, seed)

  /** Sign-LSH candidate pairs over a (vec_id, embedding) frame — the banded
    * stage of [[embeddingNearDupOf]], exposed so callers can score the
    * candidate VOLUME itself (the quantity the scale argument is about).
    * Null embeddings are dropped before banding. */
  def embeddingCandidates(embeddings: DataFrame, numBands: Int,
      rowsPerBand: Int, dim: Int, seed: Long,
      maxBucketSize: Int): DataFrame =
    embeddingCandidatesOf(prepareEmbeddings(embeddings), numBands,
      rowsPerBand, dim, seed, maxBucketSize)

  /** Spread + null-drop an embeddings frame once, so the near-dup family can
    * share ONE prepared frame between candidate generation and exact verify
    * (each spread is a scan + exchange of the embeddings table). */
  private def prepareEmbeddings(embeddings: DataFrame): DataFrame =
    spread(embeddings).select($"vec_id", $"embedding")
      .filter($"embedding".isNotNull)

  /** Core of [[embeddingCandidates]] over an already-[[prepareEmbeddings]]'d
    * frame — callers that also need the vectors for exact verification pass
    * the same prepared frame here instead of re-spreading the raw table. */
  private def embeddingCandidatesOf(emb: DataFrame, numBands: Int,
      rowsPerBand: Int, dim: Int, seed: Long,
      maxBucketSize: Int): DataFrame = {
    // sign-LSH band keys as a native expression (bit r of band b = sign of
    // the dot with plane b·rows+r, P[bit agrees] = 1 − θ/π); the plane
    // matrix (bands×rows×dim doubles) rides along as a codegen reference
    val planes = gaussianPlanes(numBands * rowsPerBand, dim, seed)
    // lineage-cut after the band expression, same as [[bandedCandidates]]:
    // the hot-bucket count (×2, one per join side) and the self-join's two
    // sides would otherwise each re-run scan → spread → bands·rows dot
    // products per vector; the cut leaves narrow (vec_id, band, key) rows
    // and keeps the join exchanges ENSURE_REQUIREMENTS (AQE skew-split —
    // critical here: sign-LSH at r=2 has only 4 keys per band)
    val banded = dropHotBuckets(emb
      .select($"vec_id", posexplode(graft.functions.VectorExpressions
        .signLshBands($"embedding", planes, rowsPerBand)).as(Seq("band", "key")))
      .localCheckpoint(), Seq("band", "key"), maxBucketSize)
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("a_vec_id"), col("r.vec_id").as("b_vec_id"))
      .distinct()
  }

  /** Core of [[embeddingNearDup]] over any (vec_id, embedding) frame.
    * `dim` must equal the embedding column's length — the band expression
    * fails fast on a mismatch (a truncated dot product would silently
    * degrade candidate recall while the exact verify uses full vectors). */
  def embeddingNearDupOf(embeddings: DataFrame, threshold: Double = 0.4,
      numBands: Int = 64, rowsPerBand: Int = 2, dim: Int = 64,
      seed: Long = 7L, maxBucketSize: Int = 1000): DataFrame = {
    val emb = prepareEmbeddings(embeddings)
    val candidates = embeddingCandidatesOf(emb, numBands, rowsPerBand,
      dim, seed, maxBucketSize)
    // (measured non-win: a tokenJaccardPairsOf-style repartition of the
    // candidate frame before the verify read NEUTRAL here — at the fixture's
    // near-exhaustive geometry the candidate set is large, so re-exchanging
    // it costs what the verify parallelism gains back)
    candidates
      .join(emb.select($"vec_id".as("a_vec_id"), $"embedding".as("a_emb")), "a_vec_id")
      .join(emb.select($"vec_id".as("b_vec_id"), $"embedding".as("b_emb")), "b_vec_id")
      .withColumn("cosine", round(Similarity.cosine($"a_emb", $"b_emb"), 6))
      .filter($"cosine" >= threshold)
      .select($"a_vec_id", $"b_vec_id", $"cosine")
  }

  /** Production-geometry embedding dedup, reported as volume stats: one row
    * with the corpus size, the all-pairs count a naive plan would score, the
    * sign-LSH candidate count actually scored, and the surviving pair count.
    *
    * The registered [[embeddingNearDup]] entry deliberately runs a
    * near-exhaustive test geometry (threshold 0.4, r=2/b=64) so the DuckDB
    * brute-force oracle can match it exactly. THIS entry runs the geometry
    * the 100 TB argument is about — threshold 0.95, r=8/b=32: a qualifying
    * pair (θ ≈ 18.2°, per-bit agreement ≈ 0.90) is missed with
    * p = (1 − 0.9⁸)³² ≈ 2e-8, while background pairs collide at the rate
    * `candidate_frac` makes visible. DedupSpec pins candidate_frac ≪ 1;
    * at 100 TB the same geometry holds because both the miss bound and the
    * background collision rate are per-PAIR properties, independent of n.
    */
  def embeddingNearDupScale(spark: SparkSession, sfDir: String,
      threshold: Double = 0.95, numBands: Int = 32, rowsPerBand: Int = 8,
      dim: Int = 64, seed: Long = 7L): DataFrame =
    embeddingNearDupScaleOf(Tables.embeddings(spark, sfDir), threshold,
      numBands, rowsPerBand, dim, seed)

  /** Core of [[embeddingNearDupScale]] over any (vec_id, embedding) frame. */
  def embeddingNearDupScaleOf(embeddings: DataFrame, threshold: Double = 0.95,
      numBands: Int = 32, rowsPerBand: Int = 8, dim: Int = 64,
      seed: Long = 7L, maxBucketSize: Int = 1000): DataFrame = {
    val emb = prepareEmbeddings(embeddings)
    val candidates = embeddingCandidatesOf(emb, numBands, rowsPerBand,
      dim, seed, maxBucketSize)
    // one pass over the candidates scores AND counts them (no second job)
    val candStats = candidates
      .join(emb.select($"vec_id".as("a_vec_id"), $"embedding".as("a_emb")), "a_vec_id")
      .join(emb.select($"vec_id".as("b_vec_id"), $"embedding".as("b_emb")), "b_vec_id")
      .withColumn("cosine", Similarity.cosine($"a_emb", $"b_emb"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when($"cosine" >= threshold, 1L).otherwise(0L)).as("n_pairs"))
      .select($"n_candidates",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"))
    val corpusStats = emb.agg(count(lit(1)).as("n_vectors"))
    // both sides are single-row aggregates — the cross join is trivial
    corpusStats.crossJoin(candStats)
      .withColumn("all_pairs", expr("n_vectors * (n_vectors - 1) DIV 2"))
      .withColumn("candidate_frac",
        round($"n_candidates".cast("double") /
          greatest($"all_pairs", lit(1L)).cast("double"), 6))
      .select($"n_vectors", $"all_pairs", $"n_candidates", $"n_pairs",
        $"candidate_frac")
  }

  /** Persist an embedding corpus's sign-LSH band index as a BUCKETED table:
    * one row per (vec_id, band, key), bucketed+sorted by the band key — the
    * embedding-space twin of [[writeBandIndex]], giving the semantic-dedup
    * tier the same build-once/probe-many standing artifact: every
    * subsequent batch probe reads the index co-located (only the batch side
    * shuffles), and the hot-bucket cap is applied once at build. Plane
    * geometry (numBands, rowsPerBand, dim, seed) must match between build
    * and probe — the seed makes the hyperplanes reproducible. */
  def writeEmbeddingBandIndex(embeddings: DataFrame, table: String,
      numBands: Int = 64, rowsPerBand: Int = 2, dim: Int = 64,
      seed: Long = 7L, buckets: Int = 32, maxBucketSize: Int = 1000,
      location: Option[String] = None): Unit = {
    val planes = gaussianPlanes(numBands * rowsPerBand, dim, seed)
    val banded = dropHotBuckets(prepareEmbeddings(embeddings)
      .select($"vec_id", posexplode(graft.functions.VectorExpressions
        .signLshBands($"embedding", planes, rowsPerBand)).as(Seq("band", "key"))),
      Seq("band", "key"), maxBucketSize)
    // pre-cluster to the bucket rule — `buckets` files, not tasks×buckets
    // (writeBandIndex's read-side small-file rationale, guide §6)
    val writer = banded.repartition(buckets, $"band", $"key")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "band", "key").sortBy("band", "key")
    location.fold(writer)(writer.option("path", _)).saveAsTable(table)
  }

  /** Incremental embedding near-dup against a PERSISTED sign-LSH band
    * index: which of a batch's vectors are near-duplicates (cosine ≥
    * `threshold`) of anything in the standing corpus — the daily-ingestion
    * path of semantic dedup, mirroring [[incrementalNearDupIndexed]]'s
    * topology exactly: batch bands × bucketed index (index co-located,
    * never re-banded), candidate set materialized once, exact-cosine verify
    * fetching ONLY candidate corpus vectors (broadcast semi-filter — the
    * corpus is never scored or shuffled wholesale per probe).
    * Output: (new_vec_id, dup_of_vec_id, cosine).
    */
  /** Candidate (new_vec_id, dup_of_vec_id) pairs from sign-LSH-banding
    * `batch` against the persisted embedding index — exposed (like the text
    * [[bandIndexCandidates]]) so BucketingSpec can pin zero Exchange above
    * the index scan even though the probe materializes it eagerly. */
  def embeddingBandIndexCandidates(indexTable: String, batch: DataFrame,
      numBands: Int = 64, rowsPerBand: Int = 2, dim: Int = 64,
      seed: Long = 7L): DataFrame = {
    val spark = batch.sparkSession
    val planes = gaussianPlanes(numBands * rowsPerBand, dim, seed)
    val batchBanded = prepareEmbeddings(batch)
      .select($"vec_id", posexplode(graft.functions.VectorExpressions
        .signLshBands($"embedding", planes, rowsPerBand)).as(Seq("band", "key")))
    // merge hint: see bandIndexCandidates — the exploded batch side's
    // pre-explode size estimate must not turn into a driver-side broadcast
    foldIndexTombstones( // retractions fold out (see bandIndexCandidates)
      batchBanded.as("l").hint("merge")
        .join(spark.table(indexTable).as("r"),
          col("l.band") === col("r.band") && col("l.key") === col("r.key"))
        .select(col("l.vec_id").as("new_vec_id"),
          col("r.vec_id").as("dup_of_vec_id"))
        .distinct(),
      indexTable, "dup_of_vec_id")
  }

  def incrementalEmbeddingNearDupIndexed(corpus: DataFrame,
      indexTable: String, batch: DataFrame, threshold: Double = 0.4,
      numBands: Int = 64, rowsPerBand: Int = 2, dim: Int = 64,
      seed: Long = 7L): DataFrame = {
    val candidates = embeddingBandIndexCandidates(indexTable, batch,
      numBands, rowsPerBand, dim, seed)
      .localCheckpoint() // one banded-index join per probe (see text twin)
    val candIds = candidates.select($"dup_of_vec_id")
    val corpusVecs = prepareEmbeddings(corpus)
      .join(broadcast(candIds), $"vec_id" === $"dup_of_vec_id", "left_semi")
      .select($"vec_id".as("dup_of_vec_id"), $"embedding".as("b_emb"))
    val batchVecs = prepareEmbeddings(batch)
      .select($"vec_id".as("new_vec_id"), $"embedding".as("a_emb"))
    candidates
      .join(batchVecs, "new_vec_id")
      .join(corpusVecs, "dup_of_vec_id")
      .withColumn("cosine", round(Similarity.cosine($"a_emb", $"b_emb"), 6))
      .filter($"cosine" >= threshold)
      .select($"new_vec_id", $"dup_of_vec_id", $"cosine")
  }

  /** Registered query: every 10th vector plays the incoming batch against a
    * band index persisted from the rest (built once per process, the bench's
    * warmup absorbing it — same scheme as the text twin). Test geometry
    * r=2/b=64 at threshold 0.4 (miss p ≈ 7e-15), so the brute-force DuckDB
    * batch×corpus twin matches exactly; production runs 0.95 with r=8/b=32
    * (see [[embeddingNearDupScale]]). Ordered output: the probe's candidate
    * stage is an eagerly materialized checkpoint. */
  def incrementalEmbeddingNearDupEntry(spark: SparkSession,
      sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val key = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val table = s"graft_emb_band_index_$key"
    if (!spark.catalog.tableExists(table))
      writeEmbeddingBandIndex(emb.filter($"vec_id" % 10 =!= 0), table,
        location = Some(
          s"${graft.util.TmpDirs.perProcessDir("graft_embidx")}/$key"))
    incrementalEmbeddingNearDupIndexed(emb.filter($"vec_id" % 10 =!= 0),
      table, emb.filter($"vec_id" % 10 === 0))
      .orderBy($"new_vec_id", $"dup_of_vec_id")
  }

  /** 64-bit SimHash of the text's distinct shingle set. The bit-majority
    * vote over per-shingle hashes is inexpressible as efficient built-ins
    * (64 aggregates per row), so it is the native codegen
    * [[graft.functions.SimHash64Expr]] — one fused pass, no UDF boxing.
    */
  def simhash(text: Column, shingleLen: Int): Column =
    graft.functions.TextExpressions.simhash(coalesce(text, lit("")), shingleLen)

  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Registered companion of [[simhashNearDup]]: the per-doc 64-bit SimHash
    * signatures themselves. Rows-only on its own (xxhash64 has no DuckDB
    * twin), it exists so the simhash_near_dup ORACLE can brute-force the
    * Hamming pairs in DuckDB over these Spark-computed signatures — an
    * independent check of the pigeonhole candidate generation + verify
    * stages (DedupSpec pins the hash's locality property separately).
    */
  def simhashSignatures(spark: SparkSession, sfDir: String,
      shingleLen: Int = 5): DataFrame =
    // spread first — the per-shingle SimHash is the whole cost of this
    // entry, and a small fixture file is ONE scan split: without the
    // spread the corpus-wide hash pass serializes onto a single task
    // (measured 1.9 s → 0.3 s at sf0.1/local[32]; same guard as every
    // other compute-dense tier, no-op on an already-split production scan)
    spread(Tables.documents(spark, sfDir))
      .select($"doc_id", simhash($"text", shingleLen).as("sh"))

  /** SimHash near-dup pairs: candidates share at least one of four 16-bit
    * key chunks (pigeonhole: any pair with Hamming distance ≤ 3 must agree
    * on a whole chunk), verified with an exact `bit_count(xor)` filter.
    */
  def simhashNearDup(spark: SparkSession, sfDir: String, shingleLen: Int = 5,
      maxHamming: Int = 3): DataFrame =
    simhashNearDupOf(Tables.documents(spark, sfDir), shingleLen, maxHamming)

  /** Core of [[simhashNearDup]] over any (doc_id, text) frame. */
  def simhashNearDupOf(documents: DataFrame, shingleLen: Int = 5,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val docs = spread(documents)
      .select($"doc_id", simhash($"text", shingleLen).as("sh"))
    hammingNearDup(docs, "doc_id", "sh", numChunks = 4,
      maxHamming = maxHamming, maxBucketSize = maxBucketSize)
      .withColumnRenamed("a_id", "a_doc_id")
      .withColumnRenamed("b_id", "b_doc_id")
  }

  /** Multi-index Hamming self-join (Norouzi et al.'s multi-index hashing,
    * the pigeonhole form): split each 64-bit signature into `numChunks`
    * equal chunks; any pair within Hamming distance ≤ numChunks − 1 agrees
    * EXACTLY on at least one chunk, so candidates come from equi-joins on
    * (chunk, key) and the exact `bit_count(xor)` filter settles membership
    * — no false negatives within the pigeonhole budget, false positives
    * only re-verify. Signature-source-agnostic: text SimHash
    * ([[simhashNearDupOf]], 4×16-bit chunks for d ≤ 3) and image
    * perceptual hashes ([[graft.multimodal.Media.imagePhashNearDup]],
    * 8×8-bit chunks, budget d ≤ 6 — the registered entries and their
    * DuckDB oracles all use maxHamming = 6; the pigeonhole BOUND is
    * numChunks − 1 = 7) share this core.
    *
    * The distance-budget/selectivity trade is explicit: a wider budget
    * needs more (narrower) chunks, and an `bits/numChunks`-bit key space
    * has 2^(bits/numChunks) buckets per chunk — candidate fan-out grows as
    * n²/2^(bits/numChunks) per chunk under uniform hashing. At production
    * scale keep chunks ≥ 16 bits and compose tiers (exact dedup first)
    * rather than widening the budget; [[dropHotBuckets]] caps adversarial
    * buckets either way.
    *
    * Expects `maxHamming ≤ numChunks − 1` (asserted: a wider budget would
    * silently miss pairs — the pigeonhole guarantee is the contract).
    */
  def hammingNearDup(sigs: DataFrame, idCol: String, sigCol: String,
      numChunks: Int, maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    requirePigeonhole(numChunks, maxHamming)
    // lineage-cut after the signature+chunk expressions, same as
    // [[bandedCandidates]]: the hot-bucket count (×2) and the self-join's
    // two sides would otherwise each re-run the UPSTREAM signature pass —
    // for [[simhashNearDupOf]] that is the full per-shingle SimHash over
    // the corpus text, for the media tiers the perceptual-hash decode —
    // four times per query. Narrow (id, sig, chunk, key) rows materialize.
    val chunked = dropHotBuckets(
      chunkedSigs(sigs, idCol, sigCol, numChunks).localCheckpoint(),
      Seq("chunk", "key"), maxBucketSize)
    chunked.as("l")
      .join(chunked.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a_id"), col("r.id").as("b_id"),
        hammingDist(col("l.sig"), col("r.sig")).as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  private def requirePigeonhole(numChunks: Int, maxHamming: Int): Unit = {
    require(64 % numChunks == 0, s"numChunks $numChunks must divide 64")
    require(maxHamming <= numChunks - 1,
      s"pigeonhole violated: maxHamming $maxHamming > numChunks − 1 = ${numChunks - 1}")
  }

  /** (id, sig, chunk, key) rows of the multi-index layout — the exploded
    * form both the self-join and the persisted index use. */
  private def chunkedSigs(sigs: DataFrame, idCol: String, sigCol: String,
      numChunks: Int): DataFrame = {
    val chunkBits = 64 / numChunks
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1L
    val base = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val chunkStructs = (0 until numChunks).map(c =>
      struct(lit(c).as("chunk"),
        shiftright($"sig", c * chunkBits).bitwiseAND(lit(mask)).as("key")))
    base.select($"id", $"sig", explode(array(chunkStructs: _*)).as("c"))
      .select($"id", $"sig", $"c.chunk".as("chunk"), $"c.key".as("key"))
  }

  /** Persist a 64-bit-signature HASH INDEX for incremental multi-index
    * Hamming probes — the perceptual-dedup twin of [[writeBandIndex]]:
    * chunked rows bucketed (and sorted) by (chunk, key), so every
    * subsequent [[hammingIndexProbe]] reads the index side CO-LOCATED
    * (zero index-side exchange; only the new batch moves). One index
    * serves any 64-bit signature source — image aHash, audio fingerprint,
    * video temporal hash, text SimHash. */
  def writeHashIndex(sigs: DataFrame, idCol: String, sigCol: String,
      table: String, numChunks: Int, buckets: Int = 32,
      maxBucketSize: Int = 1000, location: Option[String] = None): Unit = {
    val chunked = dropHotBuckets(
      chunkedSigs(spread(sigs), idCol, sigCol, numChunks),
      Seq("chunk", "key"), maxBucketSize)
    // pre-cluster to the bucket rule — `buckets` files, not tasks×buckets
    // (writeBandIndex's read-side small-file rationale, guide §6)
    val writer = chunked.repartition(buckets, $"chunk", $"key")
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "chunk", "key").sortBy("chunk", "key")
    location.fold(writer)(writer.option("path", _)).saveAsTable(table)
    // record the chunk geometry as a table property — probes and appends
    // verify it (see requireChunkGeometry); without this, a mismatched
    // numChunks shifts the (chunk, key) layout and silently drops pairs
    sigs.sparkSession.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('$NumChunksProperty'='$numChunks')")
  }

  /** Table property recording a hash index's build-time `numChunks` — the
    * geometry half of the (chunk, key) layout contract. */
  val NumChunksProperty = "graft.numChunks"

  /** Fail loudly when a probe/append's `numChunks` differs from the
    * geometry the index was built with: a mismatch shifts the (chunk, key)
    * layout, so equi-joins silently drop pairs instead of erroring —
    * exactly the failure the embedding band index's documented geometry
    * contract exists to prevent. The build records [[NumChunksProperty]];
    * for an index written before the property existed, `max(chunk)+1` of
    * the standing table is checked instead — and that inference is EXACT,
    * not a heuristic: `chunkedSigs` explodes every signature into ALL of
    * its geometry's chunks, so any non-empty index populates every chunk
    * id 0..numChunks−1 and `max(chunk)+1` IS the build geometry (a partly
    * populated chunk range cannot occur by construction, so the check can
    * never throw spuriously). An EMPTY legacy table genuinely records
    * nothing to check against — it passes deliberately: whatever geometry
    * first appends to it becomes the (consistent) geometry of every row it
    * will ever hold. */
  private def requireChunkGeometry(spark: SparkSession, table: String,
      numChunks: Int): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val built = meta.properties.get(NumChunksProperty).map(_.toInt)
      .orElse(Option(spark.table(table)
        .agg(max(col("chunk"))).head.get(0))
        .map(_.asInstanceOf[Int] + 1))
    built.filter(_ != numChunks).foreach { b =>
      throw new IllegalArgumentException(
        s"hash index $table was built with numChunks=$b but this " +
          s"probe/append uses numChunks=$numChunks — a mismatched chunk " +
          "geometry silently drops pairs; match the build or rebuild " +
          "the index")
    }
  }

  /** Append a batch's signatures to a standing hash index — shares the
    * band index's union-re-capped append core ([[appendBandedRows]]): keys
    * whose standing+incoming count would exceed the cap are dropped from
    * the APPEND (those families are exact-tier work), and the standing
    * count is probed co-located for the incoming keys only. */
  def appendToHashIndex(sigs: DataFrame, idCol: String, sigCol: String,
      table: String, numChunks: Int, buckets: Int = 0,
      maxBucketSize: Int = 1000): Unit = {
    requireChunkGeometry(sigs.sparkSession, table, numChunks)
    appendBandedRows(chunkedSigs(spread(sigs), idCol, sigCol, numChunks),
      table, Seq("chunk", "key"), buckets, maxBucketSize)
  }

  /** Probe a standing hash index with a batch of signatures: batch chunks
    * equi-join the bucketed index on (chunk, key) — index side co-located,
    * only the batch shuffles — then the exact `bit_count(xor)` verify.
    * Output (new_id, dup_of_id, hamming); no false negatives within the
    * pigeonhole budget against everything indexed. */
  def hammingIndexProbe(indexTable: String, batch: DataFrame,
      idCol: String, sigCol: String, numChunks: Int, maxHamming: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    requirePigeonhole(numChunks, maxHamming)
    val spark = batch.sparkSession
    requireChunkGeometry(spark, indexTable, numChunks)
    val b = dropHotBuckets(
      chunkedSigs(spread(batch), idCol, sigCol, numChunks),
      Seq("chunk", "key"), maxBucketSize)
    foldIndexTombstones( // retractions fold out (see bandIndexCandidates)
      spark.table(indexTable).as("i")
        // merge hint: see bandIndexCandidates — the chunked batch side's
        // pre-explode size estimate must not turn into a driver broadcast
        .join(b.as("n").hint("merge"),
          col("i.chunk") === col("n.chunk") && col("i.key") === col("n.key") &&
            col("i.id") =!= col("n.id"))
        .select(col("n.id").as("new_id"), col("i.id").as("dup_of_id"),
          hammingDist(col("n.sig"), col("i.sig")).as("hamming"))
        .distinct()
        .filter($"hamming" <= maxHamming),
      indexTable, "dup_of_id")
  }
}
