package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions.col

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy dog", "en"),   // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog", "en"),   // near dup of 1
    (4L, "completely different content about spark engines", "en")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup keeps lowest doc_id per fingerprint") {
    val got = Dedup.exactDedup(docs).as[(String, Long, Long)].collect()
      .map { case (_, keep, n) => keep -> n }.toMap
    assert(got(1L) == 2L) // docs 1+2 collapse, keeper is 1
    assert(got(3L) == 1L && got(4L) == 1L)
  }

  test("minhash estimates jaccard 1.0 for identical docs, high for near-dups") {
    // 1-row bands → candidate iff ANY minhash agrees: the high-recall
    // configuration; coarser bands trade recall for fewer candidates
    val pairs = Dedup.minHashLshPairs(docs, bands = 32, threshold = 0.0)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.getOrElse((1L, 3L), 0.0) > 0.2) // true shingle jaccard = 0.4
    assert(pairs.getOrElse((1L, 4L), 0.0) < 0.2) // unrelated docs
  }

  test("minhash estimate tracks exact shingle jaccard (statistical accuracy)") {
    // deterministic corpus of word-soup docs with varying overlap
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 50).map(i => s"w$i")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = doc(120)
    val docs = ((1L, base, "x") +: (2 to 10).map { i =>
      // mutate a growing suffix: decreasing true jaccard with doc 1
      val words = base.split(" ").toVector
      val cut = words.length - i * 10
      (i.toLong, (words.take(cut) ++ Seq.fill(i * 10)(vocab(rnd.nextInt(vocab.size)))).mkString(" "), "x")
    }).toDF("doc_id", "text", "lang")
    val cands = (2 to 10).map(i => (1L, i.toLong)).toDF("a_id", "b_id")
    val exact = Dedup.ngramJaccard(docs, cands).as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val est = Dedup.minHashLshPairs(docs, bands = 32, threshold = 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val errs = exact.keys.toSeq.map { k =>
      math.abs(exact(k) - est.getOrElse(k, 0.0))
    }
    // 32 hashes → σ ≤ 0.09; mean abs error across 9 pairs well under 0.15
    assert(errs.sum / errs.size < 0.15, s"errors=$errs")
  }

  test("minhash banded index: candidate self-join rides the bucketing " +
      "(one Exchange total, for the pair-dedup agg)") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "mh_idx_test_h32_k3_b8_b8")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = Dedup.minHashLshPairs(docs, bands = 8, threshold = 0.0,
        indexName = Some("mh_idx_test"))
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.split("Exchange").length - 1 == 1, s"plan:\n$plan")
      // and results match the un-indexed path exactly
      val direct = Dedup.minHashLshPairs(docs, bands = 8, threshold = 0.0)
        .as[(Long, Long, Double)].collect().toSet
      assert(pairs.as[(Long, Long, Double)].collect().toSet == direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("simhash: identical docs agree, different docs differ") {
    val sigs = Dedup.simHash(docs).as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
    // near-dup has small hamming distance
    val ham = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(ham <= 16, s"hamming $ham")
  }

  test("exact n-gram jaccard over candidate pairs") {
    val cands = Seq((1L, 2L), (1L, 4L)).toDF("a_id", "b_id")
    val got = Dedup.ngramJaccard(docs, cands).as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got((1L, 4L)) == 0.0)
  }

  test("near-dup clusters: connected components label by min id") {
    // components: {1,2,3,9} (chain), {5,6}, singletons not in pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 6L))
      .toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // the driver fast path and the distributed propagation must agree
    val dist = Dedup.nearDupClusters(pairs, driverFastPathEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(dist == got)
  }

  test("near-dup clusters: empty candidate set yields empty output") {
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.nearDupClusters(pairs).count() == 0L) // no NPE on null sum
    val docs2 = Seq((1L, "alpha beta gamma delta", "en")).toDF("doc_id", "text", "lang")
    assert(Dedup.dedupCorpus(docs2, pairs).count() == 1L) // clean corpus kept
  }

  test("near-dup clusters converge on a long chain (diameter > 1 iteration)") {
    // path graph 0-1-2-…-19: worst case for label propagation — force the
    // DISTRIBUTED path (the fence would route this to the driver)
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs, driverFastPathEdges = 0)
      .as[(Long, Long)].collect()
    assert(got.length == 20 && got.forall(_._2 == 0L), got.mkString(","))
  }

  test("near-dup clusters: plateau merge converges fast (anchor notify)") {
    // the r14 500k-stress failure shape, minimized: two 300-node path
    // chains, bridged at the FAR end of the second — chain B converges
    // to its own min (301) before the bridge's better label (1) can
    // cross it, and each member that learns 1 repoints immediately,
    // severing its label-edge to anchor 301. Without the anchor-notify
    // step the 1-frontier then erodes the 301-plateau one adjacency hop
    // per iteration (~300 rounds) and the default 50-iteration fence
    // throws; with it, the first improved member tells the anchor in
    // the same round and the plateau collapses through the jump rounds.
    val chainA = (1L until 300L).map(i => (i, i + 1))
    val chainB = (301L until 600L).map(i => (i, i + 1))
    val bridge = Seq((600L, 1L))
    val pairs = (chainA ++ chainB ++ bridge).toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs, driverFastPathEdges = 0)
      .as[(Long, Long)].collect()
    assert(got.length == 600 && got.forall(_._2 == 1L),
      got.filter(_._2 != 1L).take(5).mkString(","))
  }

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.0f, 1.0f, 0.0f), 0),
    (2L, Array(1.0f, 0.0f, 0.0f), 0),    // identical to 0
    (3L, Array(0.9f, 0.1f, 0.0f), 0)
  ).toDF("vec_id", "embedding", "label")

  test("cosine to query vector (brute force baseline)") {
    val got = Similarity.cosineToQuery(vecs, 0L).as[(Long, Double)].collect().toMap
    assert(got(1L) == 0.0)
    assert(got(2L) == 1.0)
    assert(got(3L) > 0.99)
  }

  test("top-k nearest neighbours ordered, deterministic ties") {
    val got = Similarity.topKForQuery(vecs, 0L, 2).as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(2L, 3L))
  }

  test("all-vectors nearest neighbour argmax") {
    val got = Similarity.nearestNeighbour(vecs).as[(Long, Long, Double)].collect()
      .map(t => t._1 -> t._2).toMap
    assert(got(0L) == 2L) // exact twin wins
    assert(got(2L) == 0L) // symmetric, lowest-id tie-break
    assert(got(3L) == 0L || got(3L) == 2L)
  }

  test("PQ: encode parity with the scalar reference, codes bounded, zero shuffle") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 120).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, m = 4, k = 8, iters = 3)
    assert(cb.length == 4 && cb.forall(_.length == 8) &&
      cb.forall(_.forall(_.length == 4)))
    val enc = Similarity.pqEncode(vecs, cb)
    val got = enc.as[(Long, Seq[Int])].collect().toMap
    assert(got.size == 120 && got.values.forall(c =>
      c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    // independent replay: normalize, slice, argmin-L2 with first-win ties
    val raw = vecs.as[(Long, Seq[Float])].collect()
    raw.foreach { case (id, v) =>
      val d = v.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      val u = d.map(_ / n)
      val want = (0 until 4).map(s =>
        Similarity.pqNearest(u.slice(s * 4, s * 4 + 4), cb(s)))
      assert(got(id) == want, s"vec $id")
    }
    assert(!enc.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("PQ ADC: separated clusters retrieved at full recall, score is the table fold") {
    // ten tight clusters on orthogonal axes in 16 dims — PQ with k=16
    // codewords per 4-dim subspace separates them losslessly enough that
    // the ADC top-10 for a cluster-0 query must be cluster 0
    val rnd = new scala.util.Random(13)
    def cl(axis: Int, n: Int, base: Long) = (0 until n).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat * 0.03f)
      v(axis) = 1.0f
      (base + i, v)
    }
    val vecs = (0 until 10).flatMap(a => cl(a, 20, a * 100L))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, m = 4, k = 16, iters = 5)
    val q = vecs.where($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).as[Seq[Double]]
      .head.toArray
    val enc = Similarity.pqEncode(vecs.where($"vec_id" =!= 0L), cb)
    val top = Similarity.pqTopK(enc, cb, q, 10)
      .as[(Long, Double)].collect()
    assert(top.length == 10)
    assert(top.forall(_._1 < 100L), s"non-cluster-0 hit: ${top.toSeq}")
    // score identity: the ADC score IS the m-term lookup-table fold
    val qn = math.sqrt(q.map(x => x * x).sum)
    val codes = enc.where($"vec_id" === top.head._1)
      .as[(Long, Seq[Int])].head._2
    val want = (0 until 4).map { s =>
      val cw = cb(s)(codes(s))
      (0 until 4).map(i => (q(s * 4 + i) / qn) * cw(i)).sum
    }.sum
    assert(math.abs(top.head._2 - (math.round(want * 1e4) / 1e4)) < 1e-9)
  }

  test("PQ refined: shortlist + exact rescore reproduces the brute-force head") {
    val rnd = new scala.util.Random(17)
    def cl(axis: Int, n: Int, base: Long) = (0 until n).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat * 0.05f)
      v(axis) = 1.0f
      (base + i, v)
    }
    val vecs = (0 until 8).flatMap(a => cl(a, 25, a * 100L))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(vecs, m = 4, k = 16, iters = 5)
    val q = vecs.where($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).as[Seq[Double]]
      .head.toArray
    val rest = vecs.where($"vec_id" =!= 0L)
    val refined = Similarity.pqTopKRefined(
        Similarity.pqEncode(rest, cb), rest, cb, q, 10, shortlist = 50)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val exact = Similarity.topKForQuery(vecs, 0L, 10)
      .as[(Long, Double)].collect().map(_._1).toSeq
    // with the home cluster inside the 50-deep shortlist the exact
    // rescore makes the ranking identical to brute force, order included
    assert(refined == exact, s"refined=$refined exact=$exact")
  }

  test("IVF-PQ: full coverage = brute force; nprobe=1 reads only the probed buckets") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ivfpq_spec_ivfpq")
    val rnd = new scala.util.Random(19)
    def cl(axis: Int, n: Int, base: Long) = (0 until n).map { i =>
      val v = Array.fill(16)(rnd.nextGaussian().toFloat * 0.05f)
      v(axis) = 1.0f
      (base + i, v)
    }
    val vecs = (0 until 4).flatMap(a => cl(a, 30, a * 100L))
      .toDF("vec_id", "embedding")
    val (cents, cbs, idx) =
      Similarity.ivfPqIndex(vecs, kCells = 4, m = 4, kCodes = 16,
        "ivfpq_spec")
    val q = vecs.where($"vec_id" === 0L)
      .select($"embedding".cast("array<double>")).as[Seq[Double]]
      .head.toArray
    // full coverage + corpus-wide shortlist: identical to brute force
    val full = Similarity.ivfPqTopK(idx, vecs, cents, cbs, q, 10,
        nprobe = 4, shortlist = 1000)
      .as[(Long, Double)].collect().map(_._1).toSeq
    val exact = Similarity.topKForQuery(vecs, 0L, 10)
      .as[(Long, Double)].collect().map(_._1)
      .filterNot(_ == 0L).take(10).toSeq
    // the index contains the query vector too (vec 0 scores cos 1.0
    // with itself and ranks first) — compare the tail accordingly
    val fullNoSelf = full.filterNot(_ == 0L)
    assert(fullNoSelf == exact.take(fullNoSelf.length),
      s"full=$full exact=$exact")
    // pruned probe: only the home cell's buckets are read
    val pruned = Similarity.ivfPqTopK(idx, vecs, cents, cbs, q, 10,
      nprobe = 1, shortlist = 50)
    val hits = pruned.as[(Long, Double)].collect().map(_._1)
    assert(hits.forall(_ < 100L), s"cross-cluster hit: ${hits.toSeq}")
    // the probe prunes DIRECTORIES: the cell filter lands in
    // PartitionFilters (not a post-scan row filter over all files)
    val shortPlan = idx.where($"cell" === 0).queryExecution.executedPlan
      .toString
    assert(shortPlan.contains("PartitionFilters: [") &&
      "PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(shortPlan).isDefined,
      shortPlan)
  }

  test("IVF with nprobe=k reproduces exact top-k; nprobe=1 finds the home cluster") {
    // three tight clusters around orthogonal axes
    val rnd = new scala.util.Random(7)
    def cl(axis: Int, n: Int, base: Long) = (0 until n).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian().toFloat * 0.05f)
      v(axis) = 1.0f
      (base + i, v, axis)
    }
    val vecs = (cl(0, 20, 0L) ++ cl(1, 20, 100L) ++ cl(2, 20, 200L))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.ivfCentroids(vecs, k = 3, iters = 5)
    val exact = Similarity.topKForQuery(vecs, 0L, 5).as[(Long, Double)].collect().map(_._1).toSeq
    val assigned = Similarity.ivfAssign(vecs, cents)
    val full = Similarity.ivfTopK(assigned, 0L, 5, cents, nprobe = 3)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(full == exact) // probing every cell ≡ brute force
    val probe1 = Similarity.ivfTopK(assigned, 0L, 5, cents, nprobe = 1)
      .as[(Long, Double)].collect().map(_._1).toSeq
    assert(probe1.forall(id => id < 100L)) // home cluster only
    assert(probe1.size == 5)
  }

  test("LSH buckets put identical vectors in the same bucket") {
    val pairs = Similarity.lshCandidatePairs(Similarity.lshAssign(vecs, dim = 3),
      minCos = -1.0)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 2L)) == 1.0)
  }

  test("LSH nearest-neighbour recall >= 0.95 vs exact baseline") {
    // the dedup-shaped workload LSH-NN exists for: each base vector has a
    // small-angle near-duplicate twin as its true NN
    val rnd = new scala.util.Random(13)
    val base = (0 until 100).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
      Seq((i.toLong, v.map(_.toFloat), 0), (i + 1000L, twin, 0))
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.nearestNeighbour(vecs)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val approx = Similarity.lshNearestNeighbour(vecs, dim = 16)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val hits = exact.keys.count(id => approx.get(id).contains(exact(id)))
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.95, s"recall=$recall (${hits}/${exact.size})")
  }

  test("embedding near-dup pipeline: LSH candidates → connected components") {
    // twins of a base vector cluster together; unrelated vectors don't
    val rnd = new scala.util.Random(17)
    val base = (0 until 30).map(_ => Array.fill(12)(rnd.nextGaussian()))
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.map(x => (x + rnd.nextGaussian() * 0.02).toFloat)
      Seq((i.toLong, v.map(_.toFloat), 0), (i + 1000L, twin, 0))
    }.toDF("vec_id", "embedding", "label")
    val pairs = Similarity.lshCandidatePairs(
        Similarity.lshAssign(vecs, dim = 12, numPlanes = 4), minCos = 0.99)
      .select("a_id", "b_id")
    val clusters = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // every clustered twin pair maps to the base id
    assert(clusters.nonEmpty)
    clusters.foreach { case (id, label) =>
      assert(label == (id % 1000L) || label == id, s"$id -> $label")
    }
  }

  test("semanticDedupFlags: sign-blocked keep-lowest, zero-norm dropped") {
    val emb = Seq(
      (1L, Array(1.0f, 1.0f, 0.1f)),    // block 111
      (2L, Array(2.0f, 2.0f, 0.2f)),    // same direction as 1 (cos 1.0) → dup
      (3L, Array(1.0f, 1.0f, -5.0f)),   // block 011: different block — survives
                                        //   even though cos(1,3) is moderate
      (4L, Array(1.0f, 0.9f, 0.15f)),   // block 111, cos≈0.996 to 1 → dup
      (5L, Array(-1.0f, -1.0f, -1.0f)), // block 000, alone → no neighbor
      (6L, Array(0.0f, 0.0f, 0.0f))     // zero norm → dropped entirely
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedupFlags(emb, minCos = 0.95, signDims = 3)
      .as[(Long, Long, Option[Double], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L)) // 6 dropped, all others rowed
    assert(got(1L)._4 == 0)              // lowest id in its block: survivor
    assert(got(2L) == ((2L, 7L, Some(1.0), 1)))
    assert(got(3L)._4 == 0 && got(3L)._3.isEmpty) // own block, no lower mate
    assert(got(4L)._4 == 1 && got(4L)._3.get > 0.99)
    assert(got(5L) == ((5L, 0L, None, 0)))
    // filtering form keeps exactly the unflagged, zero-norm dropped too
    val kept = Similarity.semanticDedup(emb, minCos = 0.95, signDims = 3)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 5L))
  }

  test("semanticDedupFlagsBounded: level-2 refine splits a collapsed block; " +
      "hot leaves take the anchor rule") {
    // six vectors share the level-1 argmax (dim 1) — over maxBlock=3, so
    // the level-2 refine must split them by SECOND argmax into two cold
    // leaves of 3; five identical vectors agree on every |component| rank,
    // stay hot through the refine, and must take the O(leaf) anchor arm
    val spread = Seq(
      (1L, Array(10.0f, 5.0f, 0.1f, 0.2f)),
      (2L, Array(10.0f, 5.1f, 0.1f, 0.2f)),
      (3L, Array(10.0f, 5.2f, 0.2f, 0.1f)),
      (4L, Array(10.0f, 0.1f, 5.0f, 0.2f)),
      (5L, Array(10.0f, 0.2f, 5.1f, 0.1f)),
      (6L, Array(10.0f, 0.1f, 5.2f, 0.2f)))
    val hotFam = (100L to 104L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
    val emb = (spread ++ hotFam).toDF("vec_id", "embedding")
    val got = Similarity
      .semanticDedupFlagsBounded(emb, minCos = 0.95, maxBlock = 3, levels = 2)
      .as[(Long, Long, Int, Option[Double], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 11)
    // refined composite keys: level-1 pos 1, second argmax pos 2 vs pos 3
    assert(Seq(1L, 2L, 3L).map(got(_)._2).toSet == Set(1L * 4096 + 2))
    assert(Seq(4L, 5L, 6L).map(got(_)._2).toSet == Set(1L * 4096 + 3))
    assert((1L to 6L).forall(got(_)._3 == 0)) // both leaves cold after split
    // keep-lowest inside each cold leaf (near-parallel vectors)
    assert(got(1L)._5 == 0 && got(2L)._5 == 1 && got(3L)._5 == 1)
    assert(got(4L)._5 == 0 && got(5L)._5 == 1 && got(6L)._5 == 1)
    // the identical family: hot, anchor (min id) keeps with NULL, every
    // other member flagged at exactly the rounded cosine 1.0
    assert((100L to 104L).forall(got(_)._3 == 1))
    assert(got(100L)._4.isEmpty && got(100L)._5 == 0)
    (101L to 104L).foreach { i =>
      assert(got(i)._4.contains(1.0) && got(i)._5 == 1, got(i))
    }
  }

  test("semanticDedupFlagsBounded equals the unbounded argmax decision " +
      "when no block exceeds maxBlock") {
    val rnd = new scala.util.Random(7)
    val emb = (0L until 60L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val bounded = Similarity
      .semanticDedupFlagsBounded(emb, minCos = 0.6, maxBlock = 64, levels = 3)
    assert(bounded.where($"hot" =!= 0).isEmpty)
    val b = bounded.drop("hot").as[(Long, Long, Option[Double], Int)]
      .collect().toSet
    val u = Similarity.semanticDedupFlagsArgmax(emb, minCos = 0.6)
      .as[(Long, Long, Option[Double], Int)].collect().toSet
    assert(b == u)
  }

  test("semanticDedupFlagsBoundedApply: routes through snapshot refinement, " +
      "anchors hot and newly-hot leaves, equals the batch decision on a " +
      "refinement-stable fixture") {
    val base = Seq(
      (1L, Array(10.0f, 5.0f, 0.1f, 0.2f)),
      (2L, Array(10.0f, 5.1f, 0.1f, 0.2f)),
      (3L, Array(10.0f, 5.2f, 0.2f, 0.1f)),
      (4L, Array(10.0f, 0.1f, 5.0f, 0.2f)),
      (5L, Array(10.0f, 0.2f, 5.1f, 0.1f)),
      (6L, Array(10.0f, 0.1f, 5.2f, 0.2f))) ++
      (100L to 104L).map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f)))
    val inc = Seq(
      // cold: routes into the refined {1,2,3} leaf (3+1 = 4 ≤ maxBlock),
      // exact lower-pairs probe against the snapshot
      (200L, Array(10.0f, 5.05f, 0.1f, 0.2f)),
      // snapshot-hot leaf (the identical family): anchor = vec 100
      (210L, Array(1.0f, 2.0f, 3.0f, 4.0f))) ++
      // a NEW identical family sharing level-1 argmax with the 100s but
      // splitting at level 2 (masked argmax → first position): its fresh
      // leaf becomes hot purely from increment mass → anchor = 300
      (300L to 329L).map(i => (i, Array(0.0f, 0.0f, 0.0f, 9.0f)))
    val baseDf = base.toDF("vec_id", "embedding")
    val incDf = inc.toDF("vec_id", "embedding")
    val snap = Similarity.boundedBlocked(baseDf, maxBlock = 4, levels = 2)
    val got = Similarity.semanticDedupFlagsBoundedApply(snap, incDf,
        minCos = 0.95, maxBlock = 4, levels = 2)
      .as[(Long, Long, Int, Option[Double], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 32)
    assert(got(200L)._3 == 0 && got(200L)._5 == 1 &&
      got(200L)._4.get > 0.99, got(200L)) // cold probe found 1/2/3
    assert(got(210L)._3 == 1 && got(210L)._4.contains(1.0) &&
      got(210L)._5 == 1, got(210L)) // snapshot-hot anchor 100
    assert(got(300L)._3 == 1 && got(300L)._4.isEmpty && got(300L)._5 == 0)
    (301L to 329L).foreach { i =>
      assert(got(i)._3 == 1 && got(i)._4.contains(1.0) && got(i)._5 == 1)
    }
    // batch parity on the DECISIONS (leaf keys may differ for leaves the
    // increment itself made hot — the batch rebuild refines them one
    // level further before anchoring; membership and anchors coincide)
    val batch = Similarity.semanticDedupFlagsBounded(
        baseDf.unionByName(incDf), minCos = 0.95, maxBlock = 4, levels = 2)
      .where($"vec_id" >= 200L)
      .select("vec_id", "max_lower_cos", "is_dup")
      .as[(Long, Option[Double], Int)].collect().toSet
    val applied = got.values.map(r => (r._1, r._4, r._5)).toSet
    assert(applied == batch, s"apply=$applied batch=$batch")
  }

  test("boundedIndexAppend + semanticDedupBoundedServe: the index grows " +
      "per batch, later batches dedup against earlier increments, hot " +
      "flags recompute from merged counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Seq(
      (1L, Array(10.0f, 5.0f, 0.1f, 0.2f)),
      (2L, Array(0.1f, 8.0f, 0.3f, 0.2f)),
      (3L, Array(0.2f, 0.1f, 7.0f, 0.4f)))
    val b1 = Seq((10L, Array(10.0f, 5.0f, 0.1f, 0.2f)), // dup of base 1
      (11L, Array(0.5f, 0.2f, 0.1f, 6.0f)))             // novel direction
    val b2 = Seq((20L, Array(0.5f, 0.2f, 0.1f, 6.0f)),  // dup of BATCH-1 11
      (21L, Array(10.0f, 5.0f, 0.1f, 0.2f)))            // dup of base 1
    def df(rows: Seq[(Long, Array[Float])]) = rows.toDF("vec_id", "embedding")
    // append: every row lands, base leaf keys unchanged, hot = merged>max
    val snap0 = Similarity.boundedBlocked(df(base), maxBlock = 2, levels = 2)
      .localCheckpoint()
    val grown = Similarity.boundedIndexAppend(snap0, df(b1),
      maxBlock = 2, levels = 2).localCheckpoint()
    assert(grown.count() == 5)
    val baseLeaves = snap0.select("vec_id", "block")
      .as[(Long, Long)].collect().toMap
    grown.select("vec_id", "block").as[(Long, Long)].collect()
      .filter(_._1 <= 3L)
      .foreach { case (id, b) => assert(b == baseLeaves(id)) }
    // serve: two micro-batches; batch-2 rows must be flagged against
    // BOTH the base index and batch-1 rows folded in by the first save
    var standing = snap0
    val verdicts = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val in = MemoryStream[(Long, Array[Float])](74, spark, None)
    val q = Similarity.semanticDedupBoundedServe(
      in.toDF().toDF("vec_id", "embedding"),
      minCos = 0.95, maxBlock = 2, levels = 2)(
      () => standing, f => standing = f.localCheckpoint())(
      out => verdicts ++= out.select("vec_id", "is_dup")
        .as[(Long, Int)].collect()).start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val v = verdicts.toMap
    assert(v(10L) == 1, v)          // dup of base 1
    assert(v(11L) == 0, v)          // novel in batch 1
    assert(v(20L) == 1, v)          // dup of batch-1 11 — the index grew
    assert(v(21L) == 1, v)          // dup of base 1 still
    assert(standing.count() == 7)   // 3 base + 2 + 2
  }

  test("semanticDedupFlagsBounded: mask exhaustion past the dimension is " +
      "deterministic, never throws") {
    // 2-dim identical vectors with levels=3: level 3 argmaxes an all-masked
    // array (max -1 → first position) — must stay one hot leaf, no error
    val emb = (0L until 5L).map(i => (i, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity
      .semanticDedupFlagsBounded(emb, minCos = 0.95, maxBlock = 2, levels = 3)
      .as[(Long, Long, Int, Option[Double], Int)].collect()
    assert(got.length == 5 && got.forall(_._3 == 1))
    assert(got.map(_._2).toSet.size == 1)
    assert(got.count(_._5 == 1) == 4) // all but the anchor flagged
  }

  test("corpusDiff labels added/removed/changed/unchanged by content fingerprint") {
    val old = Seq(
      (1L, "stays exactly the same"),
      (2L, "will be edited later"),
      (3L, "this one gets deleted"),
      (4L, "Formatting  ONLY   noise")).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "stays exactly the same"),
      (2L, "will be edited now"),
      (4L, "formatting only noise"), // tokenizer-normalized ⇒ unchanged
      (5L, "brand new document")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(old, fresh)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "added"), got)
  }

  test("splitLeakagePairs returns exactly the near-dup pairs straddling splits") {
    // ten 9/10-overlap pairs: every pair is an SNM near-dup at 0.9; which
    // pairs leak depends on the hash split, so assert against the
    // independently-computed ground truth
    val base = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = (0L until 20L by 2).flatMap { i =>
      Seq((i, s"$base tail$i"), (i + 1, s"$base tail$i x"))
    }.toDF("doc_id", "text")
    val got = Dedup.splitLeakagePairs(docs, trainRate = 0.5, validRate = 0.25)
      .as[(Long, Long, Double, String, String)].collect().toSet
    val splits = graft.ops.Sampling
      .hashSplit(docs.select("doc_id"), "doc_id", 0.5, 0.25)
      .as[(Long, String)].collect().toMap
    val allPairs = Dedup.sortedNeighborPairs(docs, threshold = 0.9)
      .where($"jaccard" >= 0.9).as[(Long, Long, Double)].collect()
    val expected = allPairs.collect {
      case (a, b, j) if splits(a) != splits(b) => (a, b, j, splits(a), splits(b))
    }.toSet
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.forall(p => p._4 != p._5))
    // same-split near-dups are NOT leakage rows
    assert(allPairs.length > got.size || allPairs.forall(p => splits(p._1) != splits(p._2)))
  }

  test("signBlock degrades (bit 0) when signDims exceeds the dimension, no ANSI throw") {
    val emb = Seq(
      (1L, Array(1.0f, 1.0f)),   // only 2 dims; bits 2..7 must read 0
      (2L, Array(2.0f, 3.0f)),   // same signs, same block
      (3L, Array(-1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // signDims = 8 > dim = 2: must not throw INVALID_ARRAY_INDEX
    val got = Similarity.semanticDedupFlags(emb, minCos = 0.95, signDims = 8)
      .as[(Long, Long, Option[Double], Int)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 3L && got(2L)._2 == 3L) // bits 0,1 set only
    assert(got(3L)._2 == 2L)
    // blocking still works on the dims that DO exist: (2,3) shares the
    // block of (1,1) and scores cos ≈ 0.9806 against it → flagged
    assert(got(2L)._4 == 1 && got(2L)._3.get > 0.98, got(2L))
    assert(got(3L)._4 == 0) // alone in its block
  }

  test("ivfTopKAllQuantized: exact under full-coverage refine; small refine " +
      "keeps high recall") {
    val rnd = new scala.util.Random(13)
    val emb = (0L until 200L).map { i =>
      (i, Array.fill(16)((rnd.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(emb, 4)
    val assigned = Similarity.ivfAssign(emb, cents)
    val queries = emb.where($"vec_id" < 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    val exact = rows(Similarity.ivfTopKAll(assigned, queries, 5, cents, nprobe = 4))
    // refine covering every candidate reproduces the exact ranking
    val full = rows(Similarity.ivfTopKAllQuantized(assigned, queries, 5, cents,
      nprobe = 4, refine = 100))
    assert(full == exact)
    // a tight shortlist (2k candidates rescored per query) still recalls
    // nearly everything: int8 reconstruction error is per-element
    // scale/2, far below typical cosine gaps
    val tight = rows(Similarity.ivfTopKAllQuantized(assigned, queries, 5, cents,
      nprobe = 4, refine = 2)).map(r => (r._1, r._2))
    val exactIds = exact.map(r => (r._1, r._2))
    val recall = (tight & exactIds).size.toDouble / exactIds.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("semanticDedupIvf agrees with the brute-force verdict on clustered vectors") {
    // three tight clusters well inside IVF resolution: every non-lowest
    // member of a cluster must be flagged, every cluster head kept — the
    // same verdict brute force gives at this threshold
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Double]) =
      base.map(x => (x + rnd.nextGaussian() * 0.01).toFloat)
    val bases = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val emb = (0 until 30).map { i =>
      (i.toLong, jitter(bases(i % 3)))
    }.toDF("vec_id", "embedding")
    val assigned = Similarity.ivfAssign(emb, bases.toArray)
    val flags = Similarity.semanticDedupIvf(assigned, minCos = 0.99)
      .as[(Long, Long, Option[Double], Int)].collect()
    val dups = flags.filter(_._4 == 1).map(_._1).toSet
    // cluster heads = ids 0, 1, 2 (lowest of each residue class)
    assert(dups == (3L until 30L).toSet, dups.toSeq.sorted)
  }

  test("LSH index table: candidate self-join probes with no shuffle exchange") {
    val rnd = new scala.util.Random(3)
    val many = (0L until 64L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val idx = Similarity.lshIndex(many, dim = 8, name = "lsh_probe_test",
      numPlanes = 4, nBuckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = Similarity.lshCandidatePairs(idx, minCos = -1.0)
      val plan = pairs.queryExecution.executedPlan.toString
      // bucketing supplies the hash distribution on both self-join sides
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(pairs.count() > 0)
      // second request hits the catalog, not a rebuild
      val again = Similarity.lshIndex(many, dim = 8, name = "lsh_probe_test",
        numPlanes = 4, nBuckets = 4)
      assert(again.count() == idx.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("multi-probe LSH: one table + Hamming-1 probes reaches multi-table recall") {
    val rnd = new scala.util.Random(19)
    val base = (0 until 100).map(_ => Array.fill(16)(rnd.nextGaussian()))
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      val twin = v.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
      Seq((i.toLong, v.map(_.toFloat), 0), (i + 1000L, twin, 0))
    }.toDF("vec_id", "embedding", "label")
    val exact = Similarity.nearestNeighbour(vecs)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val approx = Similarity.lshNearestNeighbour(vecs, dim = 16,
        numTables = 1, multiProbe = true)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val recall = exact.keys.count(id => approx.get(id).contains(exact(id))).toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall") // 1 table ≈ 4 tables (storage↓)
  }

  test("bucketed index append: new rows visible, probe stays exchange-free") {
    import graft.ops.IndexTables
    val rnd = new scala.util.Random(23)
    def mk(ids: Range) = ids.map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    // a previous run's on-disk index would otherwise be re-registered
    IndexTables.drop(spark, "lsh_append_test_p4_s42_b4")
    val idx = Similarity.lshIndex(mk(0 until 32), dim = 8,
      name = "lsh_append_test", numPlanes = 4, nBuckets = 4)
    assert(idx.count() == 32L)
    // growing corpus: append the new vectors' assignments to the SAME table
    IndexTables.append(spark, "lsh_append_test_p4_s42_b4",
      Similarity.lshAssign(mk(100 until 116), dim = 8, numPlanes = 4))
    val after = spark.table("lsh_append_test_p4_s42_b4")
    assert(after.count() == 48L)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = Similarity.lshCandidatePairs(after, minCos = -1.0)
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      // old and new vectors co-bucket: some pair spans the append boundary
      assert(pairs.where($"b_id" >= 100L && $"a_id" < 100L).count() > 0)
      val pairsBefore = pairs.as[(Long, Long, Double)].collect().toSet
      // compact: the appended file sets collapse to one; same rows, same
      // bucket spec, probe still exchange-free
      IndexTables.compact(spark, "lsh_append_test_p4_s42_b4", 4,
        Seq("bucket"), Seq("bucket", "vec_id"))
      val compacted = spark.table("lsh_append_test_p4_s42_b4")
      assert(compacted.count() == 48L)
      val pairsAfter = Similarity.lshCandidatePairs(compacted, minCos = -1.0)
      assert(!pairsAfter.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(pairsAfter.as[(Long, Long, Double)].collect().toSet == pairsBefore)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("span dedup: cross-document duplicate spans keep the lowest (doc_id, offset) owner") {
    val A = "a1 a2 a3 a4"; val B = "b1 b2 b3 b4"; val C = "c1 c2 c3 c4"
    val docs = Seq(
      (1L, s"$A $B"), // owns both of its spans
      (2L, s"$B $C"), // loses B to doc 1, keeps C
      (3L, A)         // loses its only span → empty text, still listed
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, spanTokens = 4).orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(out(0) == ((1L, 2, 2, s"$A $B")))
    assert(out(1) == ((2L, 2, 1, C)))
    assert(out(2) == ((3L, 1, 0, "")))
  }

  test("span dedup: intra-document repeats removed, partial tail span kept") {
    val docs = Seq((1L, "x1 x2 x3 x4 x1 x2 x3 x4 tail")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, spanTokens = 4)
      .as[(Long, Int, Int, String)].collect()
    assert(out(0) == ((1L, 3, 2, "x1 x2 x3 x4 tail")))
  }

  test("span dedup: zero-token document yields zero spans, not a descending sequence") {
    val docs = Seq((1L, "..."), (2L, "one two")).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, spanTokens = 4).orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(out(0) == ((1L, 0, 0, "")))
    assert(out(1) == ((2L, 1, 1, "one two")))
  }

  test("canonicalPerCluster keeps the highest-quality member; ties and singletons to lowest id") {
    val rich = "the quick brown fox jumps over the lazy dog and keeps " +
      "running through the field of green grass toward the river"
    val docs = Seq(
      (1L, "short junk !!! ### $$$"),  // low quality member of cluster 1
      (2L, rich),                       // high quality member of cluster 1
      (4L, rich),                       // cluster 4: identical quality...
      (5L, rich),                       // ...tie broken to lowest id (4)
      (9L, "standalone document with reasonable text in it"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.canonicalPerCluster(docs, clusters).orderBy("cluster_id")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(r => (r._1, r._2, r._3)).toList ==
      List((1L, 2L, 2L), (4L, 2L, 4L), (9L, 1L, 9L)))
  }

  test("substringScrub removes shifted duplicate runs at k-gram resolution, first occurrence survives") {
    val R = (1 to 10).map(i => s"r$i").mkString(" ") // a 10-token run
    val docs = Seq(
      (1L, "p1 p2 p3 " + R),          // first occurrence: owns the run
      (2L, "q1 q2 q3 q4 q5 " + R),    // same run at a DIFFERENT offset
      (3L, R),                        // nothing but the run → fully scrubbed
      (4L, "r1 r2 r3")                // sub-k fragment: below resolution, kept
    ).toDF("doc_id", "text")
    val out = Dedup.substringScrub(docs, k = 8).orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(out(0) == ((1L, 13, 13, "p1 p2 p3 " + R))) // owner untouched
    // doc 2: pure-R 8-grams start at 5,6,7 → covered tokens 5..14, the
    // whole run, regardless of its shifted alignment (the spanDedup grid
    // would have missed this)
    assert(out(1) == ((2L, 15, 5, "q1 q2 q3 q4 q5")))
    assert(out(2) == ((3L, 10, 0, "")))
    assert(out(3) == ((4L, 3, 3, "r1 r2 r3")))
  }

  test("substringScrub: intra-document repeat loses its second copy; bridging grams don't over-scrub") {
    val R = (1 to 8).map(i => s"s$i").mkString(" ")
    // R at positions 0..7 and again at 10..17, with a 2-token gap that no
    // duplicated gram covers — the gap must survive
    val docs = Seq((1L, R + " gapa gapb " + R)).toDF("doc_id", "text")
    val out = Dedup.substringScrub(docs, k = 8)
      .as[(Long, Int, Int, String)].collect()
    assert(out(0) == ((1L, 18, 10, R + " gapa gapb")))
  }

  test("substringScrubApply verdicts are batch-identical, even with interleaved ids") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "substr_spec_substr_k8")
    val R = (1 to 10).map(i => s"m$i").mkString(" ")
    val S = (1 to 10).map(i => s"n$i").mkString(" ")
    val docs = Seq(
      (1L, "a1 a2 a3 " + R),  // base: owns R
      (9L, S + " b1 b2"),     // base: but inc doc 5 < 9 owns S in batch
      (5L, S + " c1 c2 c3"),  // inc: precedes base doc 9 → keeps S
      (12L, R + " " + S)      // inc: loses both runs
    ).toDF("doc_id", "text")
    val base = docs.where(col("doc_id").isin(1L, 9L))
    val inc = docs.where(col("doc_id").isin(5L, 12L))
    val idx = Dedup.substringIndex(base, "substr_spec")
    val got = Dedup.substringScrubApply(inc, idx)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    val batch = Dedup.substringScrub(docs)
      .where(col("doc_id").isin(5L, 12L))
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(got == batch)
    // the interleaving matters: inc doc 5 KEPT S (it owns it over base 9)
    assert(got.head == ((5L, 13, 13, S + " c1 c2 c3")))
    assert(got(1) == ((12L, 20, 0, "")))
    // and the probe rides the index bucketing: at most ONE h-keyed
    // Exchange (the probe side aligning to the bucket layout) — a second
    // would mean the standing index was reshuffled (the semtext idiom)
    val plan = Dedup.substringScrubApply(inc, idx)
      .queryExecution.executedPlan.toString
    val hExchanges = "Exchange hashpartitioning\\(h".r.findAllIn(plan).length
    assert(hExchanges <= 1, s"snapshot side reshuffled:\n$plan")
  }

  test("substringScrubServe: streamed batches get the per-batch apply rewrites exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.IndexTables
    IndexTables.drop(spark, "substr_serve_substr_k8")
    val R = (1 to 10).map(i => s"v$i").mkString(" ")
    val base = Seq((1L, "intro words " + R)).toDF("doc_id", "text")
    val idx = Dedup.substringIndex(base, "substr_serve")
    val nine = "unique sentence with exactly nine distinct tokens right here"
    val incRows = Seq(
      (20L, R + " fresh tail"), // batch 1: loses R to the index
      (21L, nine),
      (30L, R),                 // batch 2: fully duplicated
      (31L, nine))              // 9-token dup of 21 but ACROSS batches:
                                // read-only serving keeps it
    val (b1, b2) = incRows.splitAt(2)
    val in = MemoryStream[(Long, String)](92, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Int, String)]()
    val q = Dedup.substringScrubServe(
        in.toDF().toDF("doc_id", "text"), idx) { batch =>
      out ++= batch.as[(Long, Int, Int, String)].collect()
    }.start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val expected =
      (Dedup.substringScrubApply(b1.toDF("doc_id", "text"), idx)
        .as[(Long, Int, Int, String)].collect() ++
        Dedup.substringScrubApply(b2.toDF("doc_id", "text"), idx)
          .as[(Long, Int, Int, String)].collect()).sortBy(_._1).toSeq
    assert(out.sortBy(_._1).toSeq == expected)
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(20L)._4 == "fresh tail")
    assert(byId(30L)._4 == "")
    // doc 31 duplicates doc 21's 9-token text but in a LATER batch:
    // serving is read-only against the index, so it survives (ingest
    // owns index growth)
    assert(byId(31L)._4 == nine)
  }

  test("cleanCorpusSpans composes quality gates, doc dedup, and span dedup") {
    val good = (0 until 12).map(i => s"w$i x$i the of").mkString(" ")
    val docs = Seq(
      (1L, "en", "web", good),              // survives, owns its spans
      (2L, "en", "web", good),              // exact duplicate → dropped by doc dedup
      (3L, "en", "web", good + " unique tail span here"), // near-dup: shares leading spans
      (4L, "en", "web", "too short")        // fails minTokens
    ).toDF("doc_id", "lang", "source", "text")
    val out = graft.ops.Curation.cleanCorpusSpans(docs, spanTokens = 20)
      .orderBy("doc_id")
      .as[(Long, String, String, Int, Int, String)].collect()
    val ids = out.map(_._1)
    assert(ids.toSeq == Seq(1L, 3L)) // 2 deduped, 4 filtered
    assert(out(0)._5 == out(0)._4)  // doc 1 keeps all its spans
    assert(out(1)._5 < out(1)._4)   // doc 3 lost its duplicated leading spans
    assert(out(1)._6.contains("unique tail span here"))
  }

  test("exact NN verifier refuses to run above its row fence") {
    val vecs = (0L until 10L).map(i => (i, Array.fill(4)(i.toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.nearestNeighbour(vecs, maxRows = 5)
    }
    assert(e.getMessage.contains("O(N^2)"))
  }

  test("ident: pinned digest (NUL separator as \\u0000 escape, not a raw byte)") {
    import graft.ops.IndexTables
    // pinned against round-2 output: the separator byte changed from a raw
    // 0x00 in source to the "\u0000" escape — the STRING is identical, so
    // every persisted index name (and on-disk dir) must remain reachable
    assert(IndexTables.ident("a", "b") == "graft_idx_a_b_70350f60")
    // and distinct raw keys with colliding sanitized forms still differ
    assert(IndexTables.ident("a_b") != IndexTables.ident("a", "b"))
  }

  test("interrupted compact swap is finished by a plain index access, not rebuilt over") {
    import graft.ops.IndexTables
    import org.apache.hadoop.fs.Path
    val rnd = new scala.util.Random(29)
    def mk(ids: Range) = ids.map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val full = "lsh_recover_test_p4_s42_b4"
    IndexTables.drop(spark, full)
    Similarity.lshIndex(mk(0 until 32), dim = 8,
      name = "lsh_recover_test", numPlanes = 4, nBuckets = 4)
    // appended rows exist ONLY in the table (no rebuild can reproduce them)
    IndexTables.append(spark, full,
      Similarity.lshAssign(mk(100 until 116), dim = 8, numPlanes = 4))
    // simulate a compact that died between delete(main) and rename(tmp,main):
    // catalog entry gone, main path gone, tmp path holds the only full copy
    val baseDir = sys.env.getOrElse("GRAFT_INDEX_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft-index")
    val fs = new Path(baseDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    spark.sql(s"DROP TABLE IF EXISTS $full")
    assert(fs.rename(new Path(s"$baseDir/$full"), new Path(s"$baseDir/${full}_compacting")))
    // a plain re-request must finish the swap (48 rows incl. appends), not
    // fall through to the build thunk (32 rows, appends silently lost)
    val recovered = Similarity.lshIndex(mk(0 until 32), dim = 8,
      name = "lsh_recover_test", numPlanes = 4, nBuckets = 4)
    assert(recovered.count() == 48L)
  }

  test("cross-process build fence: a _building marker refuses a concurrent build") {
    import graft.ops.IndexTables
    import org.apache.hadoop.fs.Path
    val name = "graft_idx_fence_test"
    IndexTables.drop(spark, name)
    val baseDir = sys.env.getOrElse("GRAFT_INDEX_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft-index")
    val fs = new Path(baseDir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(baseDir))
    val marker = new Path(s"$baseDir/$name._building")
    fs.createNewFile(marker)
    try {
      val e = intercept[IllegalArgumentException] {
        IndexTables.plain(spark, name)(Seq((1L, "x")).toDF("id", "v"))
      }
      assert(e.getMessage.contains("in progress"))
    } finally { fs.delete(marker, false); () }
    // marker gone → build proceeds, and releases its own marker afterwards
    assert(IndexTables.plain(spark, name)(Seq((1L, "x")).toDF("id", "v")).count() == 1L)
    assert(!fs.exists(marker))
    // a crashed build's stale marker is cleared by drop (drop's contract is
    // "the next call rebuilds" — the fence must not survive it)
    fs.createNewFile(marker)
    IndexTables.drop(spark, name)
    assert(!fs.exists(marker))
    assert(IndexTables.plain(spark, name)(Seq((2L, "y")).toDF("id", "v")).count() == 1L)
    IndexTables.drop(spark, name)
  }

  test("non-Latin and punctuation-only docs survive exact dedup (empty-token guard)") {
    // the round-3 verdict's top hazard: with ASCII-only tokenization every
    // non-Latin document fingerprinted to md5("") and exactDedup collapsed
    // ALL of them into one survivor. Guarded two ways — tokensUni sees real
    // tokens for any script, and zero-token (punctuation-only) docs fall
    // back to a `raw:`-prefixed md5 of the raw text, so they dedup only
    // when byte-identical
    val multi = Seq(
      (1L, "机器学习模型需要大量训练数据", "zh"),
      (2L, "机器学习模型需要大量训练数据", "zh"), // byte-identical dup of 1
      (3L, "深度神经网络的参数优化方法", "zh"),
      (4L, "модели машинного обучения", "ru"),
      (5L, "نماذج التعلم الآلي", "ar"),
      (6L, "!!! ... ???", "x"), // zero tokens under ANY tokenizer
      (7L, "*** --- :::", "x"), // zero tokens, different bytes
      (8L, "!!! ... ???", "x")  // byte-identical dup of 6
    ).toDF("doc_id", "text", "lang")
    val clusters = Dedup.exactDedup(multi).as[(String, Long, Long)].collect()
      .map { case (_, keep, n) => keep -> n }.toMap
    // 8 docs → 6 distinct fingerprints: {1,2} {3} {4} {5} {6,8} {7}
    assert(clusters == Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 2L, 7L -> 1L))
    // the script-aware tokenizer really produces tokens for every script
    import org.apache.spark.sql.functions.col
    val toks = multi.where(col("doc_id") <= 5)
      .select(graft.ops.Core.tokensUni(col("text"))).as[Seq[String]].collect()
    assert(toks.forall(_.nonEmpty))
    // zero-token docs live in the disjoint raw: fingerprint regime
    val fps = graft.ops.TextAnalysis.fingerprints(multi)
      .as[(Long, String)].collect().toMap
    assert(fps(6L).startsWith("raw:") && fps(7L).startsWith("raw:"))
    assert(!fps(1L).startsWith("raw:"))
  }

  test("IVF index table: cell-size aggregation rides the bucketing (no exchange)") {
    val rnd = new scala.util.Random(5)
    val many = (0L until 64L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val (cents, assigned) = Similarity.ivfIndex(many, 4, "ivf_probe_test", nBuckets = 4)
    val sizes = assigned.groupBy("cell").count()
    val plan = sizes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(sizes.as[(Int, Long)].collect().map(_._2).sum == 64L)
    // probing is filter + TakeOrdered over the index — also exchange-free
    val topk = Similarity.ivfTopK(assigned, 0L, 3, cents, nprobe = 2)
    val probePlan = topk.queryExecution.executedPlan.toString
    assert(!probePlan.contains("Exchange"), s"unexpected shuffle:\n$probePlan")
  }

  test("ivfAppend: new vectors join the standing index under the SAME " +
      "quantizer; probes over the grown index stay exact at nprobe=all") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ivf_append_test_4_centroids")
    IndexTables.drop(spark, "ivf_append_test_4_b4")
    val rnd = new scala.util.Random(23)
    def mk(ids: Range) = ids.map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val base = mk(0 until 48)
    val crawl = mk(48 until 64)
    // append before any build must refuse, not silently build a quantizer
    // from the increment
    val refused = intercept[RuntimeException] {
      Similarity.ivfAppend(crawl, 4, "ivf_append_test", nBuckets = 4)
    }
    assert(refused.getMessage.contains("no existing IVF index"))
    val (cents, _) = Similarity.ivfIndex(base, 4, "ivf_append_test", nBuckets = 4)
    val grown = Similarity.ivfAppend(crawl, 4, "ivf_append_test", nBuckets = 4)
    assert(grown.count() == 64L)
    // appended rows carry assignments from the STORED centroids: every
    // query's nprobe=all top-k over the grown index equals brute force
    // over the union (the exact-oracle regime)
    val queries = base.where($"vec_id" < 4)
    val got = Similarity.ivfTopKAll(grown, queries, 3, cents, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- 0L until 4L) {
      val want = Similarity.topKForQuery(base.union(crawl), qid, 3)
        .as[(Long, Double)].collect().toSeq
      assert(got(qid) == want, s"query $qid: ${got(qid)} vs $want")
    }
    // appended files honor the bucket spec: cell aggregation still
    // exchange-free over the grown table
    val plan = grown.groupBy("cell").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("hardNegatives: k nearest different-label vectors, exact at nprobe=all") {
    val rnd = new scala.util.Random(31)
    val raw = (0L until 24L).map { i =>
      (i, Array.fill(6)(rnd.nextGaussian().toFloat), (i % 3).toInt)
    }
    val vecs = raw.toDF("vec_id", "embedding", "label")
    val cents = Similarity.ivfCentroids(vecs, 3, iters = 5)
    val assigned = Similarity.ivfAssign(vecs, cents)
    val got = Similarity.hardNegatives(assigned,
        vecs.select($"vec_id", $"label"), vecs.where($"vec_id" < 4L),
        k = 3, cents, nprobe = 3)
      .as[(Long, Long, Int, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._5)).toMap
    // brute-force twin with the same rounded-cosine ordering
    val unit = raw.map { case (id, v, lab) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      (id, d.map(_ / n), lab)
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (qid <- 0L until 4L) {
      val (_, qe, qlab) = unit(qid.toInt)
      val want = unit
        .filter { case (id, _, lab) => id != qid && lab != qlab }
        .map { case (id, e, lab) =>
          (id, lab, r4(e.zip(qe).map { case (a, b) => a * b }.sum)) }
        .sortBy { case (id, _, c) => (-c, id) }.take(3)
        .zipWithIndex
        .map { case ((id, lab, c), i) => (qid, id, lab, c, i + 1) }
      assert(got(qid).toSeq == want, s"query $qid")
      // every mined negative really is another label
      assert(got(qid).forall(_._3 != qlab))
    }
  }

  test("contrastiveTriplets: nearest same-label positive + hard negative, exact") {
    val rnd = new scala.util.Random(37)
    val raw = (0L until 24L).map { i =>
      (i, Array.fill(6)(rnd.nextGaussian().toFloat), (i % 3).toInt)
    }
    val vecs = raw.toDF("vec_id", "embedding", "label")
    val cents = Similarity.ivfCentroids(vecs, 3, iters = 5)
    val assigned = Similarity.ivfAssign(vecs, cents)
    val got = Similarity.contrastiveTriplets(assigned,
        vecs.select($"vec_id", $"label"), vecs.where($"vec_id" < 4L),
        cents, nprobe = 3)
      .as[(Long, Long, Double, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val unit = raw.map { case (id, v, lab) =>
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.map(x => x * x).sum)
      (id, d.map(_ / n), lab)
    }
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (qid <- 0L until 4L) {
      val (_, qe, qlab) = unit(qid.toInt)
      def top1(same: Boolean) = unit
        .filter { case (id, _, lab) =>
          id != qid && (if (same) lab == qlab else lab != qlab) }
        .map { case (id, e, _) =>
          (id, r4(e.zip(qe).map { case (a, b) => a * b }.sum)) }
        .minBy { case (id, c) => (-c, id) }
      val (pid, pc) = top1(same = true)
      val (nid, nc) = top1(same = false)
      assert(got(qid) == ((qid, pid, pc, nid, nc, r4(pc - nc))), s"query $qid")
    }
    // an anchor whose label is unique in the corpus has no positive:
    // inner-join semantics, the anchor emits nothing (not a NULL pad)
    val lone = (raw.take(23) :+ ((23L, raw(23)._2, 9)))
      .toDF("vec_id", "embedding", "label")
    val loneGot = Similarity.contrastiveTriplets(
      Similarity.ivfAssign(lone, cents), lone.select($"vec_id", $"label"),
      lone.where($"vec_id" === 23L), cents, nprobe = 3)
    assert(loneGot.count() == 0L)
  }

  test("ivfInertiaFromIndex equals quantizerInertia; build persists the baseline") {
    import graft.ops.IndexTables
    for (s <- Seq("_3_centroids", "_3_b4", "_3_inertia"))
      IndexTables.drop(spark, s"ivf_inertia_test$s")
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 48L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val (cents, assigned) = Similarity.ivfIndex(vecs, 3, "ivf_inertia_test",
      nBuckets = 4)
    // one dot per stored row reproduces the k-dot full requantization
    val fromIdx = Similarity.ivfInertiaFromIndex(assigned, cents)
    val direct = Similarity.quantizerInertia(vecs, cents)
    assert(math.abs(fromIdx - direct) < 1e-9, s"$fromIdx vs $direct")
    assert(fromIdx > 0) // gaussian cloud never quantizes exactly
    // the build wrote the baseline table the staleness check reads
    val stored = spark.table("ivf_inertia_test_3_inertia").as[Double].head()
    assert(math.abs(stored - fromIdx) < 1e-12)
    // the documented MANUAL refresh recipe (drop centroids + assignment,
    // rebuild on changed data) must refresh the baseline too — a
    // surviving inertia table from the old corpus would feed the next
    // auto-refresh the wrong reference
    IndexTables.drop(spark, "ivf_inertia_test_3_centroids")
    IndexTables.drop(spark, "ivf_inertia_test_3_b4")
    val rnd2 = new scala.util.Random(8)
    val vecs2 = (100L until 148L).map { i =>
      (i, Array.fill(8)(rnd2.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val (cents2, assigned2) = Similarity.ivfIndex(vecs2, 3, "ivf_inertia_test",
      nBuckets = 4)
    val stored2 = spark.table("ivf_inertia_test_3_inertia").as[Double].head()
    assert(math.abs(stored2 -
      Similarity.ivfInertiaFromIndex(assigned2, cents2)) < 1e-12)
    assert(stored2 != stored) // not the old corpus's number
  }

  test("ivfAppendAutoRefresh: in-distribution appends keep the quantizer; " +
      "drifted appends trigger a measured rebuild") {
    import graft.ops.IndexTables
    for (s <- Seq("_2_centroids", "_2_b4", "_2_inertia", "_2_refresh_snapshot"))
      IndexTables.drop(spark, s"ivf_refresh_test$s")
    val rnd = new scala.util.Random(13)
    // two tight clusters along axes 0 and 1; k=2 quantizes them well
    def cluster(ids: Range, axis: Int) = ids.map { i =>
      val v = Array.fill(8)((rnd.nextGaussian() * 0.05).toFloat)
      v(axis) = (1.0 + rnd.nextGaussian() * 0.05).toFloat
      (i.toLong, v, 0)
    }
    val base = (cluster(0 until 24, 0) ++ cluster(24 until 48, 1))
      .toDF("vec_id", "embedding", "label")
    val (cents0, _) = Similarity.ivfIndex(base, 2, "ivf_refresh_test",
      nBuckets = 4)
    // in-distribution increment: more of the same two clusters → no rebuild
    val sameDist = (cluster(48 until 56, 0) ++ cluster(56 until 64, 1))
      .toDF("vec_id", "embedding", "label")
    val r1 = Similarity.ivfAppendAutoRefresh(sameDist, 2, "ivf_refresh_test",
      nBuckets = 4)
    assert(!r1.refreshed, s"unexpected rebuild: $r1")
    assert(r1.index.count() == 64L)
    assert(r1.centroids.map(_.toSeq).toSeq == cents0.map(_.toSeq).toSeq)
    // drifted increment: a THIRD cluster orthogonal to both centroids —
    // its vectors quantize badly, inertia jumps past the threshold
    val drifted = cluster(64 until 96, 4).toDF("vec_id", "embedding", "label")
    val r2 = Similarity.ivfAppendAutoRefresh(drifted, 2, "ivf_refresh_test",
      nBuckets = 4)
    assert(r2.refreshed, s"expected rebuild: $r2")
    assert(r2.appendInertia > r2.baselineInertia * 1.2)
    assert(r2.index.count() == 96L) // every vector survived the rebuild
    // the refreshed quantizer actually improved on the measured error,
    // and the new baseline table records the post-rebuild quality
    val newBaseline = spark.table("ivf_refresh_test_2_inertia").as[Double].head()
    assert(newBaseline < r2.appendInertia, s"$newBaseline vs $r2")
    assert(math.abs(newBaseline -
      Similarity.ivfInertiaFromIndex(r2.index, r2.centroids)) < 1e-9)
    // the snapshot was cleaned up after the successful rebuild
    assert(!spark.catalog.tableExists("ivf_refresh_test_2_refresh_snapshot"))
    // served index stays probe-consistent: nprobe=all over the rebuilt
    // index equals brute force over everything (the exact-oracle regime)
    val everything = base.union(sameDist).union(drifted)
    val got = Similarity.ivfTopKAll(r2.index, everything.where($"vec_id" < 3),
        3, r2.centroids, nprobe = 2)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- 0L until 3L) {
      val want = Similarity.topKForQuery(everything, qid, 3)
        .as[(Long, Double)].collect().toSeq
      assert(got(qid) == want, s"query $qid: ${got(qid)} vs $want")
    }
  }

  test("annServe: streamed query vectors score identically to the batch probe") {
    import graft.ops.IndexTables
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    for (s <- Seq("_4_centroids", "_4_b4", "_4_inertia"))
      IndexTables.drop(spark, s"ann_serve_test$s")
    val rnd = new scala.util.Random(17)
    val raw = (0L until 64L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }
    val vecs = raw.toDF("vec_id", "embedding", "label")
    val (cents, assigned) = Similarity.ivfIndex(vecs, 4, "ann_serve_test",
      nBuckets = 4)
    val in = MemoryStream[(Long, Array[Float])](47, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Int)]()
    // excludeSelf = true: this stream REPLAYS indexed vectors
    val q = Similarity.annServe(in.toDF().toDF("vec_id", "embedding"),
        assigned, k = 3, cents, nprobe = 4, excludeSelf = true) { batch =>
      out ++= batch.as[(Long, Long, Double, Int)].collect()
    }.start()
    try {
      in.addData(raw.take(2).map(r => (r._1, r._2)): _*)
      q.processAllAvailable()
      in.addData(raw.slice(2, 4).map(r => (r._1, r._2)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val batchWant = Similarity.ivfTopKAll(assigned,
        vecs.where($"vec_id" < 4), 3, cents, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.toSet == batchWant.toSet && out.nonEmpty)
    // external-id serving (the default): a query id that collides with a
    // corpus vec_id must NOT lose that corpus vector — serve the corpus
    // vector 5's OWN embedding under the colliding id 5 and expect
    // vec_id 5 itself at rank 1 (cosine 1)
    val in2 = MemoryStream[(Long, Array[Float])](48, spark, None)
    val out2 = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Int)]()
    val q2 = Similarity.annServe(in2.toDF().toDF("vec_id", "embedding"),
        assigned, k = 3, cents, nprobe = 4) { batch =>
      out2 ++= batch.as[(Long, Long, Double, Int)].collect()
    }.start()
    try {
      in2.addData((5L, raw(5)._2))
      q2.processAllAvailable()
    } finally q2.stop()
    val top = out2.filter(_._4 == 1)
    assert(top.map(t => (t._2, t._3)).toSeq == Seq((5L, 1.0)), out2.toString)
  }

  test("ivfTopKAll: batch probe equals per-query ivfTopK; index never exchanged") {
    val rnd = new scala.util.Random(11)
    val many = (0L until 64L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    val (cents, assigned) = Similarity.ivfIndex(many, 4, "ivf_multi_test", nBuckets = 4)
    val queries = many.where(org.apache.spark.sql.functions.col("vec_id") < 8)
    val all = Similarity.ivfTopKAll(assigned, queries, 3, cents, nprobe = 4)
    val got = all.as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toSeq).toMap
    assert(got.keySet == (0L until 8L).toSet)
    // nprobe = all cells ⇒ every query's rows equal its single-query probe
    for (qid <- 0L until 8L) {
      val single = Similarity.ivfTopK(assigned, qid, 3, cents, nprobe = 4)
        .as[(Long, Double)].collect().toSeq
      assert(got(qid) == single, s"query $qid: ${got(qid)} vs $single")
    }
    // scale shape: the bucketed index side is never hash-exchanged — the
    // only shuffle is the per-query top-k over candidate rows
    val plan = all.queryExecution.executedPlan.toString
    val shuffles = plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning")
    assert(shuffles == 1, s"expected only the per-query top-k shuffle:\n$plan")
  }

  test("incremental near-dup: increment probes the snapshot index; " +
      "pairs match the union self-join's cross pairs") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "snap_incr_test_h32_k3_b8")
    val snapshot = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "an entirely different snapshot document about batch engines"),
      (3L, "rows columns tables scans everywhere in the warehouse"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (11L, "the quick brown fox jumps over the lazy dog tonight today"), // near-dup of 1
      (12L, "fresh unseen content nothing like the snapshot at all ok"))
      .toDF("doc_id", "text")
    val idx = Dedup.bandedIndex(snapshot, "snap_incr_test")
    val got = Dedup.minHashLshAgainst(incoming, idx, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((11L, 1L)), got.toString)

    // parity: the union self-join's cross-corpus pairs are exactly these
    val cross = Dedup.minHashLshPairs(snapshot.union(incoming), threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .filter(p => p._1 <= 3L && p._2 >= 11L).toSeq
    assert(cross.map(p => (p._2, p._1, p._3)).sorted == got.sorted)

    // decision form keeps only the fresh doc, full row preserved
    val kept = Dedup.dedupAgainstSnapshot(incoming, idx)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(12L))

    // scale shape: the snapshot side reads from the bucketed index —
    // the only hash exchanges are the increment probe side + pair agg
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.minHashLshAgainst(incoming, idx, threshold = 0.5)
        .queryExecution.executedPlan.toString
      assert(plan.split("Exchange hashpartitioning").length - 1 <= 2,
        s"snapshot side must ride its bucketing:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("winnowing: shared runs >= w+k-1 tokens share a fingerprint; " +
      "selection is shift-invariant; plan has zero shuffles") {
    // doc 2 embeds doc 1's 10-token run at a DIFFERENT offset (the case
    // fixed-stride span md5 misses); doc 3 is unrelated
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$run tail words here"),
      (2L, s"completely new prefix goes first then $run"),
      (3L, "nothing in common with the others at all whatsoever"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, k = 3, w = 4)
      .as[(Long, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // guarantee: a shared 10-token run >= w+k-1 = 6 tokens ⇒ overlap
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
    assert((fps(2L) & fps(3L)).isEmpty)
    // density: ~1/w of the grams get selected, never zero, never all
    assert(fps(1L).size < 13 && fps(1L).nonEmpty, fps(1L).size.toString)
    // scale shape: selection is entirely scan-stage
    val plan = Dedup.winnowFingerprints(docs).queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("winnowPairs finds shifted span copies and ignores unrelated docs") {
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$run tail words here"),
      (2L, s"completely new prefix goes first then $run"),
      (3L, "nothing in common with the others at all whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowPairs(docs, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)), got.toString)
    // the hot-fp cap keeps the per-key join bounded: with cap 1 each fp
    // has one posting, so no pairs survive
    assert(Dedup.winnowPairs(docs, minShared = 1, maxDocsPerFp = 1)
      .count() == 0L)
  }

  test("winnowPairsAgainst: increment vs snapshot index ≡ the union's cross pairs") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "win_incr_test_winnow_k3_w4_b8")
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val snap = Seq(
      (1L, s"$run tail words here"),
      (2L, s"also carries $run inside"),
      (3L, "nothing in common at all whatsoever today"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, s"prefix words then $run"),
      (11L, "entirely unrelated increment content"))
      .toDF("doc_id", "text")
    Dedup.winnowIndex(snap, "win_incr_test")
    val probe = Dedup.winnowPairsAgainst(inc, "win_incr_test", minShared = 1)
    val got = probe.as[(Long, Long, Long)].collect().toSet
    // the batch self-join over the union, restricted to cross pairs and
    // re-oriented (new, snap), must agree exactly
    val cross = Dedup.winnowPairs(snap.union(inc), minShared = 1)
      .as[(Long, Long, Long)].collect()
      .filter { case (a, b, _) => (a < 10L) != (b < 10L) }
      .map { case (a, b, n) => if (a >= 10L) (a, b, n) else (b, a, n) }
      .toSet
    assert(got == cross, s"$got vs $cross")
    assert(got.map(_._1) == Set(10L)) // 11 matches nothing
    assert(got.map(_._2) == Set(1L, 2L))
    // increment-sized work: the only fp exchange is the increment side —
    // the bucketed+sorted index feeds both the cap window and the join
    // in place
    val plan = probe.queryExecution.executedPlan.toString
    val fpExchanges = "Exchange hashpartitioning\\(fp".r.findAllIn(plan).length
    assert(fpExchanges <= 1, s"index side exchanged:\n$plan")
  }

  test("winnowFlagAgainst: streamed docs flag via the standing index, " +
      "matching the batch probe's decision") {
    import graft.ops.IndexTables
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    IndexTables.drop(spark, "win_flag_test_winnow_k3_w4_b8")
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val snap = Seq(
      (1L, s"$run tail words here"),
      (3L, "nothing in common at all whatsoever today"))
      .toDF("doc_id", "text")
    Dedup.winnowIndex(snap, "win_flag_test")
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val newDocs = Seq(
      (10L, s"prefix words then $run", ts(1)),   // shares the run → flag
      (11L, "entirely unrelated increment words", ts(2)), // no flag
      (12L, s"$run moved to the front", ts(3)))  // shifted copy → flag
    val in = MemoryStream[(Long, String, Timestamp)](49, spark, None)
    val flagged = Dedup.winnowFlagAgainst(
      in.toDF().toDF("doc_id", "text", "ts"), "win_flag_test")
    val q = flagged.writeStream.format("memory").queryName("winflag")
      .outputMode("append").start()
    try {
      in.addData(newDocs.take(2): _*)
      q.processAllAvailable()
      in.addData(newDocs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("winflag").select("doc_id")
        .as[Long].collect().toSet
      // the batch incremental probe's decision at minShared = 1 is the
      // reference
      val want = Dedup.winnowPairsAgainst(
          newDocs.map(d => (d._1, d._2)).toDF("doc_id", "text"),
          "win_flag_test", minShared = 1)
        .select("new_id").as[Long].collect().toSet
      assert(got == want && got == Set(10L, 12L), s"$got vs $want")
    } finally q.stop()
  }

  test("winnowPairsAgainstMultiK: incremental match classes from two indexes") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "win_mk_test_winnow_k3_w4_b8")
    IndexTables.drop(spark, "win_mk_test_winnow_k8_w4_b8")
    val run20 = (1 to 20).map(i => s"r$i").mkString(" ")
    val run7 = (1 to 7).map(i => s"s$i").mkString(" ")
    val snap = Seq(
      (1L, s"$run20 alpha beta"),
      (2L, s"u1 u2 u3 $run7 u4 u5 u6"),
      (3L, "totally unrelated snapshot material here"))
      .toDF("doc_id", "text")
    Dedup.winnowIndex(snap, "win_mk_test", k = 3)
    Dedup.winnowIndex(snap, "win_mk_test", k = 8)
    val inc = Seq(
      (10L, s"gamma delta $run20"),             // 20-run vs doc 1 → long
      (11L, s"v1 v2 v3 $run7 v4 v5 v6"),        // 7-run vs doc 2 → short only
      (12L, "completely novel increment words"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowPairsAgainstMultiK(inc, "win_mk_test",
        minSharedShort = 1, minSharedLong = 1)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val ab = got((10L, 1L))
    assert(ab._5 == "long" && ab._3 >= 1 && ab._4 >= 1, ab.toString)
    val cd = got((11L, 2L))
    assert(cd._5 == "short" && cd._3 >= 1 && cd._4 == 0, cd.toString)
    assert(!got.keys.exists { case (n, s) => n == 12L || s == 3L },
      got.toString)
  }

  test("winnowPairsMultiK classifies long verbatim runs vs short-only overlap") {
    val run20 = (1 to 20).map(i => s"r$i").mkString(" ")  // ≥ w+kLong−1 = 11
    val run7 = (1 to 7).map(i => s"s$i").mkString(" ")    // ≥ 6, < kLong = 8
    val docs = Seq(
      (1L, s"$run20 alpha beta"),
      (2L, s"gamma delta $run20"),                 // shifted 20-token copy of 1
      (3L, s"u1 u2 u3 $run7 u4 u5 u6"),
      (4L, s"v1 v2 v3 $run7 v4 v5 v6"),            // shares ONLY the 7-run with 3
      (5L, "totally unrelated filler words going here"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowPairsMultiK(docs, kShort = 3, kLong = 8, w = 4,
      minSharedShort = 1, minSharedLong = 1)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // a 20-token run guarantees shared fingerprints at BOTH resolutions
    val ab = got((1L, 2L))
    assert(ab._5 == "long" && ab._3 >= 1 && ab._4 >= 1, ab.toString)
    // a 7-token run guarantees a short fp but cannot produce ANY shared
    // 8-gram (the run is shorter than the gram) → 'short', long count 0
    val cd = got((3L, 4L))
    assert(cd._5 == "short" && cd._3 >= 1 && cd._4 == 0, cd.toString)
    // unrelated docs pair with nobody
    assert(!got.keys.exists { case (a, b) => a == 5L || b == 5L }, got.toString)
  }

  test("lineDedup keeps each distinct line at its first (doc, line) occurrence") {
    val docs = Seq(
      (1L, "alpha one\nshared footer\n\n  "),   // blank/whitespace lines drop
      (2L, "beta two\nshared footer\nbeta extra"),
      (3L, "shared footer"),                    // fully deduped → empty text
      (4L, "  alpha one  \ngamma four"))        // trims before matching
      .toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2, 2, "alpha one\nshared footer")))
    assert(got(2L) == ((2L, 3, 2, "beta two\nbeta extra")))
    assert(got(3L) == ((3L, 1, 0, ""))) // row kept, caller decides the drop
    assert(got(4L) == ((4L, 2, 1, "gamma four")))
    // null text → (0, 0, "") like the oracle's coalesce, never null/-1
    val withNull = docs.union(
      Seq((9L, Option.empty[String])).toDF("doc_id", "text"))
    val nullRow = Dedup.lineDedup(withNull)
      .where($"doc_id" === 9L)
      .as[(Long, Int, Int, String)].collect().head
    assert(nullRow == ((9L, 0, 0, "")))
    // lines never shuffle: the ownership exchange carries hashes+structs
    val plan = Dedup.lineDedup(docs).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("exchange hashpartitioning(line"), plan)
  }

  test("lineStats: exact line-duplication report on a hand-counted fixture") {
    val docs = Seq(
      (1L, "alpha one\nshared footer\n\n  "),
      (2L, "beta two\nshared footer\nbeta extra"),
      (3L, "shared footer"),
      (4L, "  alpha one  \ngamma four"),
      (9L, Option.empty[String].orNull)) // null text → zero lines
      .toDF("doc_id", "text")
    val got = Dedup.lineStats(docs)
      .as[(Long, Long, Double, Long)].collect().head
    // 8 non-blank lines, 5 distinct, 'shared footer' ×3
    assert(got == ((8L, 5L, 0.375, 3L)), got.toString)
    // line text never shuffles: the exchange is on the md5 hash
    val plan = Dedup.lineStats(docs).queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("exchange hashpartitioning(line"), plan)
  }

  test("detectorEval: exact-dup truth vs pair flags, near-dup-only pairs cost precision") {
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "completely different words here now"),
      (4L, ten),                              // near-dup pair with 5:
      (5L, s"$ten w11"))                      // jaccard 10/11 ≥ 0.9, not exact
      .toDF("doc_id", "text")
    val got = Dedup.detectorEval(docs,
        Dedup.sortedNeighborPairs(docs, threshold = 0.9))
      .collect().map(r => r.getString(0) -> r).toMap
    val dup = got("dup")
    // flagged: {1,2} (exact) and {4,5} (near-only) → tp 2 of 4 predicted
    assert(dup.getLong(1) == 2 && dup.getLong(2) == 2 && dup.getLong(3) == 4)
    assert(dup.getAs[Double]("prec") == 0.5 && dup.getAs[Double]("rec") == 1.0)
    val uniq = got("uniq")
    // 3 true uniques, 1 predicted uniq (doc 3) — near-dups 4,5 moved over
    assert(uniq.getLong(1) == 1 && uniq.getLong(2) == 3 && uniq.getLong(3) == 1)
    assert(uniq.getAs[Double]("prec") == 1.0)
    assert(uniq.getAs[Double]("rec") == 0.3333)
  }

  test("boilerplateScrub removes hot lines everywhere — no keep-first survivor") {
    val docs = Seq(
      (1L, "unique alpha\nshared banner"),
      (2L, "shared banner\nunique beta"),
      (3L, "shared banner\npair line"),
      (4L, "pair line\nrefrain\nrefrain\nrefrain"))
      .toDF("doc_id", "text")
    val got = Dedup.boilerplateScrub(docs, minDocs = 3)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    // 'shared banner' (3 distinct docs) vanishes EVERYWHERE — doc 1's
    // first occurrence has no survivor privilege (contrast lineDedup)
    assert(got(1L) == ((1L, 2, 1, "unique alpha")))
    assert(got(2L) == ((2L, 2, 1, "unique beta")))
    // 'pair line' (2 docs) is under threshold and stays
    assert(got(3L) == ((3L, 2, 1, "pair line")))
    // WITHIN-doc repetition never counts toward the distinct-doc gate
    assert(got(4L) == ((4L, 4, 4, "pair line\nrefrain\nrefrain\nrefrain")))
    // line text never shuffles — the gate exchange carries md5 keys
    val plan = Dedup.boilerplateScrub(docs, minDocs = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("exchange hashpartitioning(line"), plan)
  }

  test("boilerplateScrubApply: union counts decide; serve twin = per-batch apply") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.IndexTables
    IndexTables.drop(spark, "bp_spec_linefreq_b8")
    val base = Seq(
      (1L, "straddle banner\nsnap one"),
      (2L, "straddle banner\nsnap two")).toDF("doc_id", "text")
    val idx = Dedup.lineFreqIndex(base, "bp_spec")
    val incRows = Seq(
      (10L, "straddle banner\nfresh content"), // union count 3 → hot
      (11L, "inc local line\nmore fresh"),     // union count 2 → stays
      (12L, "inc local line\ntail"))
    val inc = incRows.toDF("doc_id", "text")
    val got = Dedup.boilerplateScrubApply(inc, idx, minDocs = 3)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    // hot ONLY because the standing index contributes 2 snapshot docs
    assert(got(10L) == ((10L, 2, 1, "fresh content")))
    assert(got(11L) == ((11L, 2, 2, "inc local line\nmore fresh")))
    assert(got(12L) == ((12L, 2, 2, "inc local line\ntail")))
    // contract: apply ≡ batch over snapshot ∪ increment, increment rows
    val batch = Dedup.boilerplateScrub(base.union(inc), minDocs = 3)
      .where($"doc_id" >= 10L)
      .as[(Long, Int, Int, String)].collect().sortBy(_._1).toSeq
    assert(got.values.toSeq.sortBy(_._1) == batch)
    // serve twin: streamed batches reproduce the per-batch apply exactly
    val (b1, b2) = incRows.splitAt(1)
    val in = MemoryStream[(Long, String)](93, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Int, String)]()
    val q = Dedup.boilerplateScrubServe(
        in.toDF().toDF("doc_id", "text"), idx, minDocs = 3) { b =>
      out ++= b.as[(Long, Int, Int, String)].collect()
    }.start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val expected =
      (Dedup.boilerplateScrubApply(b1.toDF("doc_id", "text"), idx, 3)
        .as[(Long, Int, Int, String)].collect() ++
        Dedup.boilerplateScrubApply(b2.toDF("doc_id", "text"), idx, 3)
          .as[(Long, Int, Int, String)].collect()).sortBy(_._1).toSeq
    assert(out.sortBy(_._1).toSeq == expected)
    // the 2-doc 'inc local line' arrives SPLIT across batches: read-only
    // serving sees 1 + index 0 per batch — kept in both (union semantics
    // need the ingest path to grow the index, by design)
    assert(out.map(r => r._1 -> r._4).toMap.apply(11L)
      == "inc local line\nmore fresh")
    // the documented growth path appends per-crawl COUNT ROWS: apply
    // must re-sum per h, so a line whose union count only crosses the
    // threshold across appended rows ('straddle banner' 2 + 1) is hot
    IndexTables.append(spark, "bp_spec_linefreq_b8",
      Seq(("straddle banner", 1L)).toDF("line", "h_src")
        .select(org.apache.spark.sql.functions.md5($"line").as("h"),
          $"h_src".as("nd")))
    val afterAppend = Dedup.boilerplateScrubApply(
        Seq((20L, "straddle banner\nsolo")).toDF("doc_id", "text"),
        Dedup.lineFreqIndex(base, "bp_spec"), minDocs = 4)
      .as[(Long, Int, Int, String)].collect().head
    // union count = 2 (original) + 1 (appended row) + 1 (this doc) = 4
    assert(afterAppend == ((20L, 2, 1, "solo")), afterAppend.toString)
  }

  test("winnowPairsStats surfaces what the posting cap drops") {
    // hot-fp fixture: 10 identical boilerplate documents (every winnowed
    // fp appears in all 10 → exact drop arithmetic), plus one unrelated doc
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " +
      "sed do eiusmod tempor incididunt ut labore"
    val docs = ((1L to 10L).map(i => (i, boiler)) :+
      (99L, "totally different content with no shared runs anywhere"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.winnowPairsStats(docs, maxDocsPerFp = 64)
      .as[(Long, Long, Long, Long)].collect().head
    assert(uncapped._2 == 0L && uncapped._3 == 0L) // nothing capped at 64
    assert(uncapped._4 == 10L) // the boilerplate fps carry all 10 docs
    val capped = Dedup.winnowPairsStats(docs, maxDocsPerFp = 4)
      .as[(Long, Long, Long, Long)].collect().head
    assert(capped._1 == uncapped._1)  // same fingerprint universe
    assert(capped._2 >= 1L)           // the hot fps hit the cap...
    // ...and each dropped (10 - 4) postings
    assert(capped._3 == capped._2 * 6L, capped.toString)
    assert(capped._4 == 10L)
    // empty corpus: one row of zeros, not an empty frame
    val empty = Dedup.winnowPairsStats(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(empty == ((0L, 0L, 0L, 0L)))
  }

  test("winnowing: short docs get one all-gram window; sub-k docs drop") {
    val docs = Seq(
      (1L, "just four tokens here"), // 2 grams < w=4 → one window
      (2L, "two tok"))               // < k tokens → no grams
      .toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs, k = 3, w = 4)
      .as[(Long, String)].collect().toSeq
    assert(got.map(_._1).toSet == Set(1L))
    assert(got.size == 1) // min of the 2 grams, once
  }

  test("meanPool computes element-wise group means") {
    val emb = Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), 0),
      (2L, Seq(3.0f, 4.0f, 5.0f), 0),
      (3L, Seq(10.0f, 0.0f, -2.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.meanPool(emb, col("label"))
      .as[(Int, Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0, 2L, Seq(2.0, 3.0, 4.0)),
      (1, 1L, Seq(10.0, 0.0, -2.0))))
  }

  // three well-separated unit-vector clusters in 8 dims, 60 vectors each
  private def clustered3 = {
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array(1.0, 0, 0, 0, 0, 0, 0, 0),
      Array(0, 0, 1.0, 0, 0, 0, 0, 0),
      Array(0, 0, 0, 0, 0, 1.0, 0, 0))
    (0 until 180).map { i =>
      val c = centers(i % 3)
      val v = c.map(_ + rnd.nextGaussian() * 0.05)
      (i.toLong, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("refineCentroids lowers inertia monotonically on the full corpus") {
    // deliberately bad start: three near-identical centroids inside one
    // cluster — the regime where sample-only training failed
    val start = Array(
      Array(1.0, 0, 0, 0, 0, 0, 0, 0.01),
      Array(1.0, 0, 0, 0, 0.01, 0, 0, 0),
      Array(1.0, 0.01, 0, 0, 0, 0, 0, 0)).map { v =>
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val emb = clustered3
    val i0 = Similarity.quantizerInertia(emb, start)
    val r1 = Similarity.refineCentroids(emb, start, iters = 1)
    val i1 = Similarity.quantizerInertia(emb, r1)
    val r3 = Similarity.refineCentroids(emb, r1, iters = 2)
    val i3 = Similarity.quantizerInertia(emb, r3)
    assert(i1 <= i0 + 1e-12 && i3 <= i1 + 1e-12, s"$i0 -> $i1 -> $i3")
    assert(i3 < 0.02, s"refined quantizer should fit the clusters: $i3")
  }

  test("containment flags the quote direction that Jaccard cannot see") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (2L, "alpha beta gamma delta epsilon zeta"),   // strict prefix quote
      (3L, "completely different words entirely here now")
    ).toDF("doc_id", "text")
    val cands = Seq((2L, 1L), (3L, 1L)).toDF("a_id", "b_id")
    val got = Dedup.ngramContainment(corpus, cands, threshold = 0.9)
      .as[(Long, Long, Int, Int, Int, Int, Int)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // quote: all 4 of doc 2's 3-shingles appear in doc 1 -> a_in_b = 1,
    // but doc 1 is NOT inside doc 2
    assert(got((2L, 1L))._6 == 1 && got((2L, 1L))._7 == 0, got((2L, 1L)))
    // Jaccard on the same pair is far below any dedup threshold: 4/18
    val j = Dedup.ngramJaccard(corpus, cands.where($"a_id" === 2))
      .as[(Long, Long, Double)].collect().head._3
    assert(j < 0.25, s"jaccard $j should be blind to the quote")
    // disjoint control: nothing contained either way
    assert(got((3L, 1L))._3 == 0 && got((3L, 1L))._6 == 0 &&
      got((3L, 1L))._7 == 0)
  }

  // ---- margin-criterion mining + hubness ----

  /** Seeded random split shared by the margin tests. */
  private def marginFixture = {
    val rnd = new scala.util.Random(11)
    val all = (0 until 60).map { i =>
      (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat), i % 3)
    }
    val df = all.toDF("vec_id", "embedding", "label")
    (all, df.where($"vec_id" % 7 === 0), df.where($"vec_id" % 7 =!= 0))
  }

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Independent local replay of the full ratio-margin criterion. */
  private def localMargin(all: Seq[(Long, Array[Float], Int)], k: Int)
      : (Map[Long, (Long, Double)], Map[Long, (Long, Int, Double)]) = {
    val unit = all.map { case (id, v, _) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      id -> v.map(_.toDouble / n)
    }.toMap
    def cos(a: Long, b: Long): Double =
      r4(unit(a).zip(unit(b)).map { case (x, y) => x * y }.sum)
    val pids = all.map(_._1).filter(_ % 7 == 0)
    val cids = all.map(_._1).filter(_ % 7 != 0)
    def topK(q: Long, pool: Seq[Long]): Seq[(Long, Double)] =
      pool.map(c => (c, cos(q, c))).sortBy { case (id, c) => (-c, id) }.take(k)
    val fwd = pids.map(q => q -> topK(q, cids)).toMap
    val sFwd = fwd.map { case (q, l) => q -> r4(l.map(_._2).sum) }
    val cand = fwd.values.flatten.map(_._1).toSet
    val sBwd = cand.map { y =>
      y -> r4(topK(y, pids).map(_._2).sum)
    }.toMap
    val mined = fwd.map { case (q, l) =>
      val (y, c) = l.head
      q -> (y, r4(2 * k * c / (sFwd(q) + sBwd(y))))
    }
    val hub = cids.flatMap { y =>
      val apps = fwd.values.toSeq.flatMap { l =>
        l.zipWithIndex.collect { case ((id, c), i) if id == y => (i + 1, c) }
      }
      if (apps.isEmpty) None
      else Some(y ->
        (apps.size.toLong, apps.map(_._1).min, r4(apps.map(_._2).sum)))
    }.toMap
    (mined, hub)
  }

  test("margin mining equals an independent local replay of the criterion") {
    val (all, probes, corpus) = marginFixture
    val got = Similarity.marginMine(corpus, probes, k = 3, minMargin = -1e9)
      .select("q_id", "vec_id", "margin").as[(Long, Long, Double)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val (mined, _) = localMargin(all, 3)
    assert(got == mined, s"got=$got\nexp=$mined")
  }

  test("IVF-served margin mining is exact at full probe coverage") {
    val (_, probes, corpus) = marginFixture
    val cents = Similarity.ivfCentroids(corpus, k = 4, iters = 3)
    val assigned = Similarity.ivfAssign(corpus, cents)
    val a = Similarity.marginMine(corpus, probes, k = 3, minMargin = 0.5)
      .select("q_id", "vec_id", "cos", "margin")
      .as[(Long, Long, Double, Double)].collect().toSet
    val b = Similarity.marginMineIvf(assigned, corpus, probes, k = 3,
        minMargin = 0.5, cents, nprobe = 4)
      .select("q_id", "vec_id", "cos", "margin")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(a == b, s"brute=$a\nivf=$b")
    assert(a.nonEmpty)
  }

  test("knnAllBrute plans partial top-k below its single exchange") {
    val (_, probes, corpus) = marginFixture
    val plan = Similarity.knnAllBrute(corpus, probes, 3)
      .queryExecution.executedPlan.toString
    // partial WindowGroupLimit below + final above the one pair exchange:
    // each map task forwards <= k rows per probe, not the full pair volume
    assert("WindowGroupLimit".r.findAllIn(plan).length == 2, plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      plan.take(2000))
  }

  test("hubness counts every top-k appearance with best rank") {
    val (all, probes, corpus) = marginFixture
    val got = Similarity.hubness(Similarity.knnAllBrute(corpus, probes, 3))
      .select("vec_id", "hits", "best_rk", "sum_cos")
      .as[(Long, Long, Int, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    val (_, hub) = localMargin(all, 3)
    assert(got == hub, s"got=$got\nexp=$hub")
    // the probe count × k mass is conserved
    assert(got.values.map(_._1).sum == probes.count() * 3)
  }

  test("margin normalizes hubness away where a raw cosine threshold cannot") {
    // a hub h sits between two probe directions; each probe also has one
    // genuine near-twin. Raw cosine ranks the hub above twin2 for p2, but
    // the margin criterion discounts h (its neighbourhood average is high
    // from appearing everywhere) and mines the twins.
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.02f), 0),   // probe 1 (id%7==0)
      (7L, Array(0.0f, 1.0f, 0.02f), 0),   // probe 2
      (1L, Array(0.995f, 0.0f, 0.1f), 0),  // twin of probe 1
      (2L, Array(0.0f, 0.995f, 0.1f), 0),  // twin of probe 2
      (3L, Array(0.7f, 0.7f, 0.14f), 0),   // the hub
      (4L, Array(-1.0f, 0.2f, 0.0f), 0),
      (5L, Array(0.2f, -1.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val probes = rows.where($"vec_id" % 7 === 0)
    val corpus = rows.where($"vec_id" % 7 =!= 0)
    val mined = Similarity.marginMine(corpus, probes, k = 3, minMargin = 1.0)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toMap
    assert(mined(0L) == 1L && mined(7L) == 2L, mined.mkString(","))
  }

  test("ANN recall gate: ivfTopK / pqTopKRefined / multi-probe LSH hold " +
      "pinned recall floors on the seeded corpus") {
    // The REGRESSION FENCE for the approximate serving paths: a plan or
    // probe-parameter regression (nprobe effectively 1, a broken ADC
    // fold, multi-probe buckets lost) would otherwise ship silently —
    // the MeasureLsh sweep (`git show 613271b:src/main/scala/graft/
    // tools/MeasureLsh.scala`) measured but nothing gated. Fixture: 20
    // blurry clusters (noise σ=1.1 ≈ center scale), so exact top-10
    // crosses cells and the floors are SENSITIVE: measured on this
    // exact seed, ivfTopK@nprobe=4 reads 0.98 (nprobe=1: 0.82),
    // pqTopKRefined@shortlist=50 reads 0.91 (shortlist=10: 0.45),
    // multi-probe LSH NN reads 0.725 (no multi-probe: 0.29) — every
    // floor sits between its config and the broken one. All inputs are
    // seeded and every algorithm is deterministic, so the measured
    // recalls are exact constants, not statistics.
    val rnd = new scala.util.Random(41)
    val centers = (0 until 20).map(_ => Array.fill(32)(rnd.nextGaussian()))
    val emb = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 40).map { j =>
        ((ci * 40 + j).toLong,
          c.map(x => (x + rnd.nextGaussian() * 1.1).toFloat), ci)
      }
    }.toDF("vec_id", "embedding", "label").localCheckpoint()
    val queries = emb.where($"vec_id" < 10)
    val exact = Similarity.knnAllBrute(emb, queries, 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
      .map { case (q, a) => q -> a.map(_._2).toSet }

    val cents = Similarity.ivfCentroids(emb, 8)
    val assigned = Similarity.ivfAssign(emb, cents).localCheckpoint()
    val ivfHits = (0L until 10L).map { q =>
      val got = Similarity.ivfTopK(assigned, q, 10, cents)
        .select("vec_id").as[Long].collect().toSet
      (got & exact(q)).size
    }.sum
    assert(ivfHits / 100.0 >= 0.95,
      s"ivfTopK default-nprobe recall@10 ${ivfHits / 100.0} < 0.95")

    val cb = Similarity.pqTrain(emb, m = 8, k = 16)
    val enc = Similarity.pqEncode(emb, cb).localCheckpoint()
    val pqHits = (0L until 10L).map { q =>
      val qv = emb.where($"vec_id" === q)
        .select($"embedding".cast("array<double>"))
        .head().getSeq[Double](0).toArray
      val got = Similarity.pqTopKRefined(enc.where($"vec_id" =!= q),
          emb.where($"vec_id" =!= q), cb, qv, 10, shortlist = 50)
        .select("vec_id").as[Long].collect().toSet
      (got & exact(q)).size
    }.sum
    assert(pqHits / 100.0 >= 0.85,
      s"pqTopKRefined shortlist-50 recall@10 ${pqHits / 100.0} < 0.85")

    val exactNN = Similarity.nearestNeighbour(emb)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val approx = Similarity.lshNearestNeighbour(emb, dim = 32)
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t._2).toMap
    val lshRecall = exactNN.keys
      .count(id => approx.get(id).contains(exactNN(id))).toDouble / exactNN.size
    assert(lshRecall >= 0.65,
      s"multi-probe LSH NN recall $lshRecall < 0.65")
  }
}
