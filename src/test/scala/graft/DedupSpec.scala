package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operator family (builder-brief north star): shingling edge cases,
  * exact-hash grouping, LSH-vs-brute-force equivalence, SimHash locality.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("charShingles: sliding windows, dedup, short/empty/null safety") {
    val df = Seq((1L, "abcdef"), (2L, "aaaa"), (3L, "ab"), (4L, ""),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.charShingles($"text", 3).as("s"))
    val m = df.as[(Long, Seq[String])].collect().toMap
    assert(m(1L) == Seq("abc", "bcd", "cde", "def"))
    assert(m(2L) == Seq("aaa")) // deduplicated
    assert(m(3L) == Seq.empty) // shorter than n — no descending-sequence trap
    assert(m(4L) == Seq.empty)
    assert(m(5L) == Seq.empty)
  }

  test("exactDedup groups identical texts and keeps the minimum doc_id") {
    val docs = Seq((10L, "same text"), (3L, "same text"), (7L, "other"))
      .toDF("doc_id", "text")
    val r = Dedup.exactDedupOf(docs)
      .select($"keep_doc_id", $"n_dups").as[(Long, Long)].collect().toSet
    assert(r == Set((3L, 2L), (7L, 1L)))
  }

  test("minhash signature: deterministic, right arity, equal sets agree") {
    val df = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "totally different words"))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.minhashSignature($"text", 4, 16).as("sig"))
    val m = df.as[(Long, Seq[Long])].collect().toMap
    assert(m(1L).size == 16)
    assert(m(1L) == m(2L)) // identical shingle sets → identical signatures
    assert(m(1L) != m(3L))
  }

  test("LSH near-dup pairs equal brute-force Jaccard pairs on the fixture") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val lsh = Dedup.nearDupPairsOf(docs)
      .as[(Long, Long, Double)].collect().toSet
    // brute force: all-pairs exact Jaccard over the same shingle sets
    val sh = docs.select($"doc_id", Dedup.charShingles($"text", 5).as("s"))
      .filter(size($"s") > 0)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        round(size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(array_union(col("a.s"), col("b.s"))), 4).as("j"))
      .filter($"j" >= 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == brute)
    assert(lsh.nonEmpty) // the fixture does contain near-duplicates
    assert(lsh.forall(_._3 >= 0.8))
  }

  test("tokenJaccardPairs equals brute-force token-3-gram Jaccard on the fixture") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val exact = Dedup.tokenJaccardPairsOf(docs, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val g = docs.select($"doc_id", graft.functions.TextExpressions
      .tokenNgrams(coalesce($"text", lit("")), 3).as("g"))
      .filter(size($"g") > 0)
    val brute = g.as("a").join(g.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        round(size(array_intersect(col("a.g"), col("b.g"))).cast("double") /
          size(array_union(col("a.g"), col("b.g"))), 4).as("j"))
      .filter($"j" >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact == brute)
    assert(exact.nonEmpty) // the fixture does contain duplicate families
  }

  test("tokenJaccardPairs: threshold-boundary pair kept, short docs excluded") {
    // J(1,2) = |{a b c}| / |{a b c, b c d}| = 0.5 — EXACTLY the threshold,
    // and doc 2's set size sits exactly on the t·|x| size-filter boundary:
    // float slop in either guard would drop it. Doc 4 has < n tokens.
    val docs = Seq((1L, "a b c d"), (2L, "a b c"), (3L, "x y z w"),
      (4L, "a b")).toDF("doc_id", "text")
    val r = Dedup.tokenJaccardPairsOf(docs, n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(r == Set((1L, 2L, 0.5)))
  }

  test("embeddingNearDup equals brute-force cosine pairs on the fixture") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val lsh = Dedup.embeddingNearDupOf(emb)
      .as[(Long, Long, Double)].collect().toSet
    val brute = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(graft.operators.Similarity.cosine(col("a.embedding"), col("b.embedding")), 6).as("c"))
      .filter($"c" >= 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh == brute)
    assert(lsh.nonEmpty)
  }

  test("embeddingNearDup finds a planted near-identical vector at a real threshold") {
    val dim = 8
    val base = Array.fill(dim)(1.0f)
    val near = base.clone(); near(0) = 0.9f // cosine ≈ 0.9986
    val far = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val emb = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq))
      .toDF("vec_id", "embedding")
    val r = Dedup.embeddingNearDupOf(emb, threshold = 0.95, numBands = 32,
      rowsPerBand = 8, dim = dim)
      .as[(Long, Long, Double)].collect().toSet
    assert(r.map(p => (p._1, p._2)) == Set((1L, 2L)))
    assert(r.head._3 > 0.99)
  }

  test("hot-bucket cap drops exact-dup families from candidates, keeps true near-dups") {
    // 40 identical docs (an exact-dup family → one hot LSH bucket) plus one
    // genuine near-dup pair; with the cap the family's quadratic candidate
    // fan-out is excluded — it's tier-1 (exact dedup) work — while the
    // near-dup pair still surfaces
    val family = (0 until 40).map(i =>
      (100L + i, "identical boilerplate text repeated across the corpus many times"))
    val nearA = (1L, "the quick brown fox jumps over the lazy dog in the misty morning light")
    val nearB = (2L, "the quick brown fox jumps over the lazy dog in the misty morning lights")
    val docs = (family :+ nearA :+ nearB).toDF("doc_id", "text")

    val capped = Dedup.nearDupPairsOf(docs, maxBucketSize = 10)
      .select($"a_doc_id", $"b_doc_id").as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L))) // family excluded, near-pair kept

    val uncapped = Dedup.nearDupPairsOf(docs, maxBucketSize = 0)
      .select($"a_doc_id", $"b_doc_id").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 40 * 39 / 2 + 1) // cap off → family pairs appear
  }

  test("dupClusters equals union-find on random graphs and multi-hop chains") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // root = min id
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
    }
    // decreasing chain: the min label must propagate one hop per round —
    // exercises the fixpoint loop, not just one propagation step
    val chain = (1L to 9L).map(i => (i - 1, i)).map { case (a, b) => (b, a) }
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
    val rnd = new scala.util.Random(7)
    val random = Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    for (edges <- Seq(chain, random)) {
      val got = Dedup.dupClusters(edges.toDF("a_doc_id", "b_doc_id"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(edges), s"edges=$edges")
    }
  }

  test("dupClusters pointer doubling: ≤ ⌈log₂ diameter⌉+2 rounds on a worst-case chain") {
    // A path graph 0–1–2–…–63 has diameter 63: plain min-label propagation
    // needs 63 rounds to drag label 0 to node 63; pointer doubling must do
    // it in O(log diameter). This pins the claimed complexity as a measured
    // property — if a refactor silently drops the label[label[x]] hop, this
    // fails long before the bench notices 11 scheduler-bound rounds.
    for (n <- Seq(16, 64)) {
      val chain = (1 until n).map(i => ((i - 1).toLong, i.toLong))
      val (labels, rounds) =
        Dedup.dupClustersWithRounds(chain.toDF("a_doc_id", "b_doc_id"))
      val got = labels.as[(Long, Long)].collect()
      assert(got.length == n && got.forall(_._2 == 0L)) // one family, min label
      val diameter = n - 1
      val bound = math.ceil(math.log(diameter.toDouble) / math.log(2)).toInt + 2
      assert(rounds <= bound,
        s"chain n=$n diameter=$diameter: took $rounds rounds, bound $bound")
    }
  }

  test("nearDupClusters labels every paired doc with its family minimum") {
    val pairs = Dedup.nearDupPairs(spark, sf)
      .select($"a_doc_id", $"b_doc_id").as[(Long, Long)].collect()
    val clusters = Dedup.nearDupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(clusters.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    // each pair's two docs share a cluster, and the label is a member ≤ all
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b))
      assert(clusters(a) <= math.min(a, b))
    }
    assert(clusters.values.toSet.subsetOf(clusters.keySet)) // labels are real docs
  }

  test("embeddingNearDupScale: candidate volume well below all-pairs, exact pair count") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val r = Dedup.embeddingNearDupScaleOf(emb).collect().head
    val nVectors = r.getAs[Long]("n_vectors")
    val allPairs = r.getAs[Long]("all_pairs")
    val nCand = r.getAs[Long]("n_candidates")
    val nPairs = r.getAs[Long]("n_pairs")
    assert(nVectors > 0)
    assert(allPairs == nVectors * (nVectors - 1) / 2)
    // the whole point of the production geometry: the banded join scores a
    // small fraction of the pairs a naive all-pairs plan would (background
    // cosine on the fixture is near 0 → per-pair collision ≈ 1−(1−2⁻⁸)³² ≈ 12%)
    assert(nCand < allPairs / 4, s"candidates $nCand vs all-pairs $allPairs")
    assert(r.getAs[Double]("candidate_frac") < 0.25)
    // pair COUNT agrees with brute force at the same threshold (recall of the
    // geometry is pinned by the planted-vector test above; miss p ≈ 2e-8)
    val brute = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(graft.operators.Similarity.cosine(col("a.embedding"), col("b.embedding")) >= 0.95)
      .count()
    assert(nPairs == brute)
  }

  test("embeddingNearDup fails fast on a plane/embedding dim mismatch") {
    // silent min-length truncation would degrade LSH recall invisibly while
    // the exact-cosine verify uses full vectors (ADVICE r3)
    val emb = Seq((1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Dedup.embeddingNearDupOf(emb, dim = 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("dim")))
  }

  test("simhash: locality — near-dup texts land within small Hamming distance") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val near = base.replace("lazy", "hazy") // one-word perturbation
    val far = "completely unrelated content about database query planning"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
      .select($"doc_id", Dedup.simhash($"text", 5).as("sh"))
    val m = df.as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(1L), m(2L)) < hamming(m(1L), m(3L)))
    assert(hamming(m(1L), m(1L)) == 0)
  }

  test("simhashNearDup returns only pairs within the Hamming budget") {
    val r = Dedup.simhashNearDup(spark, sf)
      .as[(Long, Long, Int)].collect()
    assert(r.nonEmpty)
    assert(r.forall(_._3 <= 3))
    // sanity: the SimHash pairs are a subset of the (looser) Jaccard@0.8 LSH
    // pairs' doc-id universe — both detect the same near-dup families
    val jaccardPairs = Dedup.nearDupPairs(spark, sf)
      .select($"a_doc_id", $"b_doc_id").as[(Long, Long)].collect().toSet
    val overlap = r.map(p => (p._1, p._2)).count(jaccardPairs.contains)
    assert(overlap.toDouble / r.length > 0.8)
  }

  test("incrementalNearDup: batch-vs-corpus matches only, brute-force equal") {
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely unrelated corpus content here")).toDF("doc_id", "text")
    val batch = Seq((101L, "the quick brown fox jumps over the lazy dog"), // dup of 1+2
      (102L, "brand new never seen before document")).toDF("doc_id", "text")
    val r = Dedup.incrementalNearDupOf(corpus, batch)
      .as[(Long, Long, Double)].collect()
    // every output row pairs a batch doc with a corpus doc at >= threshold
    assert(r.forall { case (n, d, j) => n >= 101L && d <= 3L && j >= 0.8 })
    // the exact-dup is found against BOTH corpus members of its family;
    // the novel doc matches nothing; corpus-internal pair (1,2) never emitted
    assert(r.map(p => (p._1, p._2)).toSet == Set((101L, 1L), (101L, 2L)))
    // and on the fixture it equals brute-force batch×corpus Jaccard
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = Dedup.incrementalNearDup(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    val sh = docs.select($"doc_id", Dedup.charShingles($"text", 5).as("s"))
      .filter(size($"s") > 0)
    val brute = sh.as("b").join(sh.as("a"),
        col("b.doc_id") % 10 === 0 && col("a.doc_id") % 10 =!= 0)
      .select(col("b.doc_id"), col("a.doc_id"),
        round(size(array_intersect(col("a.s"), col("b.s"))).cast("double") /
          size(array_union(col("a.s"), col("b.s"))), 4).as("j"))
      .filter($"j" >= 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
  }

  test("incremental embedding near-dup via persisted index equals brute force") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch = emb.filter($"vec_id" % 10 === 0)
    Dedup.writeEmbeddingBandIndex(corpus, "emb_band_idx_spec", buckets = 4)
    try {
      val got = Dedup
        .incrementalEmbeddingNearDupIndexed(corpus, "emb_band_idx_spec", batch)
        .as[(Long, Long, Double)].collect().toSet
      // brute-force batch×corpus cosine at the same threshold — at the
      // r=2/b=64 test geometry the LSH miss probability is ~7e-15
      val brute = batch.as("b").join(corpus.as("a"), lit(true))
        .select(col("b.vec_id"), col("a.vec_id"),
          round(graft.operators.Similarity
            .cosine(col("a.embedding"), col("b.embedding")), 6).as("c"))
        .filter($"c" >= 0.4)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == brute)
      assert(got.nonEmpty)
      // batch×corpus only: no corpus-internal or batch-internal pairs
      assert(got.forall { case (n, d, _) => n % 10 == 0 && d % 10 != 0 })
    } finally spark.sql("DROP TABLE IF EXISTS emb_band_idx_spec")
  }

  test("bloomIncrementalDedup: crafted batch — dups dropped, new kept, no false negatives") {
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha"),  // exact dup of corpus 1 → dropped
      (11L, "beta"),   // exact dup of corpus 2 → dropped
      (12L, "delta"),  // new → kept
      (13L, null.asInstanceOf[String])) // dup of corpus 4 (both hash "") → dropped
      .toDF("doc_id", "text")
    val got = Dedup.bloomIncrementalDedupOf(corpus, batch)
      .select("new_doc_id").as[Long].collect().toSet
    assert(got == Set(12L))
  }

  test("bloomIncrementalDedup: bit-equal to the plain exact anti-join on the fixture") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val batch = docs.filter($"doc_id" % 10 === 0).select(
      ($"doc_id" + 1000000L).as("doc_id"),
      when($"doc_id" % 20 === 0,
        concat(coalesce($"text", lit("")), lit(" v2")))
        .otherwise($"text").as("text"))
    val hashOf = sha2(coalesce($"text", lit("")), 256)
    val plain = batch.select($"doc_id", hashOf.as("text_hash"))
      .join(docs.select(hashOf.as("text_hash")).distinct(),
        Seq("text_hash"), "left_anti")
      .select($"doc_id", $"text_hash")
      .as[(Long, String)].collect().toSet
    val got = Dedup.bloomIncrementalDedup(spark, sf)
      .as[(Long, String)].collect().toSet
    assert(got == plain)
    // the re-crawl derivation yields both dups (unchanged pages, absent
    // here) and survivors (updated pages, present)
    assert(got.nonEmpty)
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    assert(got.map(_._1).subsetOf(batchIds) && got.size < batchIds.size)
  }

  test("semdedupPruned: drop rule matches the in-cell brute force; kept set audit-shaped") {
    val idx = graft.operators.Similarity.standingIndex(spark, sf)
    val assigned = idx.bucketed
      .select($"vec_id", $"embedding", $"cell".cast("int").as("cell"))
    val brute = assigned.as("l").join(assigned.as("r"),
        col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
      .filter(round(graft.operators.Similarity.cosine(
        col("l.embedding"), col("r.embedding")), 6) >= 0.3)
      .select(col("r.vec_id")).as[Long].collect().toSet
    val got = Dedup.semdedupPruned(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // every assigned vector appears exactly once with a 0/1 decision
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.length == assigned.count())
    got.foreach { case (vid, _, kept) =>
      assert(kept == (if (brute(vid)) 0 else 1), s"vec $vid decision")
    }
    // the fixture has in-cell semantic dups AND survivors
    assert(got.exists(_._3 == 0) && got.exists(_._3 == 1))
  }

  test("prototypePruned: per-cell quota is exact, dropped set is the top of the proto_cos ranking") {
    val got = Dedup.prototypePruned(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
    val byCell = got.groupBy(_._2)
    byCell.foreach { case (cell, rows) =>
      val quota = rows.length / 4 // integer quota: cell_n * 1 DIV 4
      val dropped = rows.filter(_._4 == 0)
      assert(dropped.length == quota, s"cell $cell drop count")
      // the dropped vectors are exactly the quota top-ranked by
      // (proto_cos desc, vec_id asc) — the paper's "most prototypical"
      val ranked = rows.sortBy { case (vid, _, cos, _) => (-cos, vid) }
      assert(ranked.take(quota).map(_._1).toSet == dropped.map(_._1).toSet,
        s"cell $cell dropped set is not the ranking prefix")
    }
    // audit shape: every assigned vector appears exactly once
    val n = graft.operators.Similarity.standingIndex(spark, sf).bucketed.count()
    assert(got.map(_._1).distinct.length == got.length && got.length == n)
    assert(got.exists(_._4 == 0) && got.exists(_._4 == 1))
  }

  test("clusterBalancedSample: exact md5-smallest quota per cell; salted rank equals the naive window") {
    val perCell = 40
    val got = Dedup.clusterBalancedSample(spark, sf, perCell).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val members = graft.operators.Similarity.standingIndex(spark, sf)
      .bucketed.select($"cell".cast("int"), $"vec_id")
      .as[(Int, Long)].collect().groupBy(_._1)
    def md5hex(v: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    got.groupBy(_._1).foreach { case (cell, rows) =>
      val all = members(cell).map(_._2)
      // quota: min(perCell, |cell|), under-quota cells keep everything
      assert(rows.length == math.min(perCell, all.length), s"cell $cell size")
      // positions are 1..k and the kept set is exactly the md5-smallest
      // prefix of the membership (the naive single-window semantics the
      // salted two-phase rank must reproduce)
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
      val expected = all.sortBy(v => (md5hex(v), v)).take(perCell).toSet
      assert(rows.map(_._3).toSet == expected, s"cell $cell kept set")
    }
    // every standing cell is represented
    assert(got.map(_._1).toSet == members.keySet)
  }

  test("ivfQuantizationError: conserves membership, means bracket the per-cell cosines") {
    val idx = graft.operators.Similarity.standingIndex(spark, sf)
    val got = Dedup.ivfQuantizationError(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // one row per standing cell; membership count conserved
    assert(got.map(_._1).toSet == idx.bucketed.select($"cell".cast("int"))
      .distinct().as[Int].collect().toSet)
    assert(got.map(_._2).sum == idx.bucketed.count())
    got.foreach { case (cell, n, sum, mean) =>
      assert(n >= 1)
      assert(mean == sum / n, s"cell $cell integer mean")
      // a cosine lives in [-1, 1] → micros within ±1e6
      assert(mean >= -1000000L && mean <= 1000000L, s"cell $cell mean $mean")
    }
    // vectors sit closer to their own centroid than random: overall mean
    // positive on the fixture fit
    assert(got.map(_._3).sum / got.map(_._2).sum > 0)
  }

  test("d4Pruned: stage-1 decisions equal semdedupPruned; quota over survivors only") {
    val sem = Dedup.semdedupPruned(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2))).toMap
    val got = Dedup.d4Pruned(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.length == sem.size)
    got.foreach { case (vid, _, semKept, kept) =>
      assert(semKept == sem(vid), s"vec $vid stage-1 decision drifted")
      if (semKept == 0) assert(kept == 0, s"vec $vid revived a semantic dup")
    }
    // stage-2 quota is computed on SURVIVOR cell sizes, not pre-dedup sizes
    got.groupBy(_._2).foreach { case (cell, rows) =>
      val survivors = rows.filter(_._3 == 1)
      val protoDropped = survivors.count(_._4 == 0)
      assert(protoDropped == survivors.length / 4, s"cell $cell survivor quota")
    }
    // D4 keeps strictly fewer than SemDeDup alone once any cell has >= 4 survivors
    val semKeptN = sem.values.count(_ == 1)
    val d4KeptN = got.count(_._4 == 1)
    assert(d4KeptN < semKeptN)
  }

  test("crossSourceDupMatrix: conserves the pair count, unordered keys, bounded mean") {
    val m = Dedup.crossSourceDupMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(m.nonEmpty)
    m.foreach { case (a, b, n, avg) =>
      assert(a <= b, s"unordered key violated: $a > $b")
      assert(n >= 1)
      assert(avg >= 0.8 - 1e-6 && avg <= 1.0, s"($a,$b) avg $avg")
    }
    val totalPairs = Dedup.nearDupPairs(spark, sf).count()
    assert(m.map(_._3).sum == totalPairs)
  }

  test("normalizedDedup collapses case/punctuation/whitespace variants") {
    val docs = Seq((10L, "Hello, World!"), (3L, "hello   world"),
      (7L, "hello-world"), (8L, "different text"),
      (9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Dedup.normalizedDedupOf(docs)
      .select($"keep_doc_id", $"n_dups", $"n_variants")
      .as[(Long, Long, Long)].collect().toSet
    // three formatting variants of "hello world" collapse to keep_doc_id 3
    // with THREE distinct raw forms; null normalizes to the empty group
    // (count(distinct text) skips the null → 0 variants)
    assert(r == Set((3L, 3L, 3L), (8L, 1L, 1L), (9L, 1L, 0L)))
  }

  test("normalizedDedup never splits an exact-dup group (strictly coarser)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val exactGroups = Dedup.exactDedupOf(docs).count()
    val normGroups = Dedup.normalizedDedupOf(docs).count()
    assert(normGroups <= exactGroups)
    // conservation: every doc lands in exactly one normalized group
    val total = Dedup.normalizedDedupOf(docs)
      .agg(sum($"n_dups")).as[Long].head()
    assert(total == docs.count())
  }

  test("editNearDup equals brute-force threshold Levenshtein on the fixture") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val got = Dedup.editNearDupOf(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    val base = docs.select($"doc_id", coalesce($"text", lit("")).as("t"))
      .filter(length($"t") >= 5)
    // brute force: UNBOUNDED levenshtein over all pairs, the exact-integer
    // threshold criterion (d·10000 ≤ 2000·max_len) — the candidate stage
    // and the −1 bound must drop nothing this filter keeps. The length
    // bound |la − lb|·10000 ≤ 2000·max_len drops only pairs that cannot pass
    // it (levenshtein ≥ |la − lb|), so the expected set is the same as over
    // all pairs. The filter lands in the join condition in this conjunct
    // order; a separate join condition would be placed after the pushed
    // criterion, and levenshtein would run on every ordered pair
    val (la, lb) = (length(col("a.t")), length(col("b.t")))
    val brute = base.as("a").crossJoin(base.as("b"))
      .select(col("a.doc_id").as("a_doc_id"), col("b.doc_id").as("b_doc_id"),
        levenshtein(col("a.t"), col("b.t")).as("d"),
        greatest(la, lb).as("ml"), abs(la - lb).as("dl"))
      .filter($"a_doc_id" < $"b_doc_id" && $"dl" * 10000 <= $"ml" * 2000 &&
        $"d" * 10000 <= $"ml" * 2000)
      .select($"a_doc_id", $"b_doc_id", $"d".cast("long"),
        round(lit(1.0) - $"d".cast("double") / $"ml", 4))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == brute)
  }

  test("editNearDup finds a planted single-substitution variant with exact distance") {
    val a = "the quick brown fox jumps over the lazy dog while seventeen " +
      "observers take careful notes about its trajectory and landing spot"
    val b = a.updated(40, 'x') // one substitution → edit distance 1
    val c = "completely unrelated content that shares nothing with the others"
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = Dedup.editNearDupOf(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    val sim = BigDecimal(1.0 - 1.0 / a.length)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r == Set((1L, 2L, 1L, sim)))
  }

  test("dedupTierOverlap conserves each tier's pair count, closed flag domain") {
    val rows = Dedup.dedupTierOverlap(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case ((m, e, s2), n) =>
      assert(Seq(m, e, s2).forall(x => x == 0 || x == 1))
      assert((m, e, s2) != ((0, 0, 0)), "a pair no tier found cannot exist")
      assert(n >= 1)
    }
    // marginal sums equal each tier run standalone — the shared candidate
    // pass must not change any tier's verdict
    assert(rows.filter(_._1._1 == 1).map(_._2).sum ==
      Dedup.nearDupPairs(spark, sf).count())
    assert(rows.filter(_._1._2 == 1).map(_._2).sum ==
      Dedup.editNearDup(spark, sf).count())
    assert(rows.filter(_._1._3 == 1).map(_._2).sum ==
      Dedup.simhashNearDup(spark, sf).count())
  }

  test("qualityKeepDedup keeps the argmax-quality member per family") {
    val fams = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fams.nonEmpty)
    val q = graft.operators.TextAnalysis.textStats(spark, sf)
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    val expect = fams.groupBy(_._2).map { case (c, ms) =>
      val members = ms.map(_._1)
      val keep = members.minBy(d => (-q(d), d))
      c -> (keep, q(keep), members.length.toLong, members.min)
    }
    val got = Dedup.qualityKeepDedup(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == expect)
  }

  test("qualityKeepCorpus: exact keepers minus non-keeper family members") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val exactKeep = Dedup.exactDedupOf(docs)
      .select($"keep_doc_id").as[Long].collect().toSet
    val fams = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val q = graft.operators.TextAnalysis.textStats(spark, sf)
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    val keepers = fams.groupBy(_._2)
      .map { case (_, ms) => ms.map(_._1).minBy(d => (-q(d), d)) }.toSet
    val expect = exactKeep -- (fams.map(_._1).toSet -- keepers)
    val got = Dedup.qualityKeepCorpus(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("edit threshold bound is exact-integer (555-char boundary kept)") {
    // d=111 on max_len=555 is sim = 0.8 EXACTLY and must be kept; the
    // naive floor(max_len·(1.0−0.8)) computes floor(110.999…) = 110 in
    // IEEE doubles (1.0−0.8 < 0.2) and would reject it — the cross-engine
    // drift the integer form exists to prevent
    val bound = Seq(555L, 554L, 556L).toDF("max_len")
      .withColumn("max_dist", expr("int((max_len * 2000L) div 10000)"))
      .as[(Long, Int)].collect().toMap
    assert(bound(555L) == 111)
    assert(bound(554L) == 110)
    assert(bound(556L) == 111)
  }
}
