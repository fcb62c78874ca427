package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
  private val nearDup = base.replace("lazy", "sleepy") // high jaccard
  private val unrelated =
    "completely different content about distributed query engines shuffling partitioned columnar data"

  private lazy val docs = Seq(
    (1L, base), (2L, base), // exact dups
    (3L, nearDup),
    (4L, unrelated),
    (5L, "tiny")).toDF("doc_id", "text")

  test("exact dedup keeps min-id per content") {
    val out = Dedup.exact(docs, "text", "doc_id")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L, 5L))
  }

  test("null-content rows all survive exact dedup (not collapsed together)") {
    val withNulls = Seq(
      (1L, "same"), (2L, "same"),
      (3L, null.asInstanceOf[String]), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ids = Dedup.exact(withNulls, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L, 4L)) // dup 2 dropped; BOTH null rows kept
  }

  test("unrelated sub-shingle-length docs are NOT near-dups; identical ones are") {
    val shorts = Seq(
      (1L, "abc"), (2L, "xyz"), (3L, "abc")).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(shorts, "text", "doc_id", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L))) // 'abc' vs 'abc' only — never 'abc' vs 'xyz'
  }

  test("clusters: transitive closure labels chains by their min id") {
    // chain 1-2-3, pair 5-6, singleton edges none for 9
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("clusters: reliable-checkpoint mode yields identical labels") {
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val local = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val durable = Dedup.clusters(pairs, reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durable == local)
    assert(durable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("clusters: driver union-find finish matches the distributed loop") {
    // long chain (worst case for round counts) + star + pair + crossing
    val chain = (0L until 200L).map(i => (i, i + 1))
    val star = (1000L until 1020L).map(i => (2000L, i))
    val extra = Seq((500L, 700L), (700L, 600L), (600L, 500L))
    val pairs = (chain ++ star ++ extra).toDF("id_a", "id_b")
    val viaDriver = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.clusters(pairs, driverFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop)
    assert(viaDriver(200L) == 0L)    // chain end reaches min
    assert(viaDriver(2000L) == 1000L) // star center labeled by min leaf
    assert(viaDriver(700L) == 500L)
  }

  test("clusters: mid-iteration handoff finishes a graph that contracts under budget") {
    // 12 star clusters (hubs k*100, 10 spokes each) linked hub-to-hub
    // in a chain: 131 pairs → 262 symmetrized edges, over the budget of
    // 60, so the upfront driver finish is refused. After one round each
    // star contracts onto its hub and the contracted component graph is
    // just the ~11-edge hub chain — far under budget. With maxIters = 2
    // the distributed loop ALONE cannot close a 12-hub chain (needs
    // ~4 halving rounds), so exact labels prove the mid-iteration
    // handoff ran.
    val stars = for {
      k <- 0L until 12L; j <- 1L to 10L
    } yield (k * 100, k * 100 + j)
    val chain = (0L until 11L).map(k => (k * 100, (k + 1) * 100))
    val pairs = (stars ++ chain).toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs, maxIters = 2, driverFinishEdges = 60L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 12 * 11)
    assert(labels.values.forall(_ == 0L)) // one component, min id 0
    // sanity: the distributed loop alone at maxIters=2 is NOT converged
    val loopOnly = Dedup.clusters(pairs, maxIters = 2, driverFinishEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loopOnly.values.exists(_ != 0L))
  }

  test("clusters: no edge checkpoint outlives the call on any return path") {
    val sc = spark.sparkContext
    // returns the persistent RDDs the call left behind, as row counts
    def leftBehind(labels: => org.apache.spark.sql.DataFrame): Seq[Long] = {
      val before = sc.getPersistentRDDs.keySet
      labels.collect()
      sc.getPersistentRDDs.keySet.diff(before).toSeq
        .map(id => sc.getPersistentRDDs(id).count())
    }
    // 3 pairs -> 6 symmetrized edges over 5 nodes
    val small = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    // driver finish: labels are a local relation, nothing stays pinned
    assert(leftBehind(Dedup.clusters(small)) == Nil)
    // loop exit: only the returned labels' own checkpoint (5 rows)
    assert(leftBehind(Dedup.clusters(small, driverFinishEdges = 0L)) == Seq(5L))
    // mid-iteration handoff (the star-chain fixture above: 262 edges
    // over 132 nodes): only the handed-off labels' checkpoint
    val stars = for {
      k <- 0L until 12L; j <- 1L to 10L
    } yield (k * 100, k * 100 + j)
    val chain = (0L until 11L).map(k => (k * 100, (k + 1) * 100))
    val starChain = (stars ++ chain).toDF("id_a", "id_b")
    assert(leftBehind(Dedup.clusters(starChain, maxIters = 2,
      driverFinishEdges = 60L)) == Seq(132L))
    // a caller's lazy cache that the edge checkpoint job happens to
    // build first is the caller's: it stays pinned
    val cachedPairs = small.select(col("id_a"), col("id_b")).cache()
    try assert(leftBehind(Dedup.clusters(cachedPairs)).size == 1)
    finally cachedPairs.unpersist()
  }

  test("clusters: fractional ids use the exact convergence probe, not the rounded sum") {
    // sub-integer id gaps: Decimal(38,0) rounding could alias a label
    // change into an unchanged sum — the chain must still fully converge
    val pairs = Seq((1.25, 1.5), (1.5, 1.75), (1.75, 2.25), (9.5, 9.75))
      .toDF("id_a", "id_b")
    val labels = Dedup.clusters(pairs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(labels == Map(1.25 -> 1.25, 1.5 -> 1.25, 1.75 -> 1.25,
      2.25 -> 1.25, 9.5 -> 9.5, 9.75 -> 9.5))
  }

  test("clusters: string ids skip the driver finish and stay correct") {
    // md5-hex-style ids: the long-keyed driver union-find cannot
    // represent them — the small-edge-set gate must fall through to the
    // type-agnostic distributed loop instead of corrupting labels
    val pairs = Seq(("aa", "bb"), ("bb", "cc"), ("ee", "ff"))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("aa" -> "aa", "bb" -> "aa", "cc" -> "aa",
      "ee" -> "ee", "ff" -> "ee"))
  }

  test("nearDupSurvivorsBy keeps each cluster's best-quality member") {
    // cluster {1,2,3} best quality at id 2; pair {5,6} tie broken by id;
    // 9 unpaired survives untouched
    val corpus = Seq((1L, 10), (2L, 99), (3L, 50), (5L, 7), (6L, 7), (9L, 1))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDupSurvivorsBy(corpus, pairs, "doc_id", col("quality"))
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 5L, 9L))
    // quality-blind variant keeps min ids instead
    assert(Dedup.nearDupSurvivors(corpus, pairs, "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L, 9L))
  }

  test("nearDupSurvivors keeps one doc per cluster plus all unpaired docs") {
    val corpus = (1L to 7L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val ids = Dedup.nearDupSurvivors(corpus, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 4L, 5L, 7L))
  }

  test("exactGroups reports duplicate counts") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .filter(col("n_copies") > 1).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("keep_id") == 1L)
    assert(g(0).getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // unrelated
  }

  test("minhash signature similarity approximates jaccard for identical docs") {
    val sigs = docs.filter(col("doc_id").isin(1, 2))
      .select(Dedup.minhashSignature(col("text")).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1)) // identical text -> identical signature
  }

  test("simhash: identical fingerprints for dups; near for near-dups") {
    val fps = docs.select(col("doc_id"),
      Dedup.simhashFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    val hammingNear = java.lang.Long.bitCount(fps(1L) ^ fps(3L))
    val hammingFar = java.lang.Long.bitCount(fps(1L) ^ fps(4L))
    assert(hammingNear < hammingFar)
    val pairs = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashPairs over planted fingerprints: exact hamming pairs, once each") {
    // 1^5 = hamming 1; 1^255 = 7; 5^255 = 6; 0x0F0F… ≥30 from all
    val fps = Seq((1L, 1L), (2L, 5L), (3L, 255L), (4L, 0x0F0F0F0F0F0F0F0FL))
      .toDF("id", "fp")
    val got = Dedup.simhashPairs(fps, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (2L, 3L, 6)))
    // no duplicate emission across chunks: exactly-once by construction
    val all = Dedup.simhashPairs(fps, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(all.length == all.distinct.length)
  }

  test("identity flood: 10k equal fingerprints emit star edges, not the 50M-pair clique") {
    // the silent-clip / black-frame degenerate: identical fingerprints
    // are endemic on natural media. Output must be LINEAR group
    // membership (rep, member, 0), not the |g|²/2 enumeration.
    val flood = (1L to 10000L).map(i => (i, 42L)).toDF("id", "fp")
    val got = Dedup.simhashPairs(flood, maxHamming = 3)
    assert(got.count() == 9999L)
    val sample = got.filter(col("id_b").isin(2L, 777L, 10000L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(sample == Set((1L, 2L, 0), (1L, 777L, 0), (1L, 10000L, 0)))
    graft.ops.Caches.release()
  }

  test("identity groups within maxIdentity keep the exact clique semantics") {
    // group {1,2,3} at fp=8, plus id 9 one bit away: clique pairs AND
    // every member-to-neighbor pair must appear, exactly as before the
    // guards existed
    val fps = Seq((1L, 8L), (2L, 8L), (3L, 8L), (9L, 9L)).toDF("id", "fp")
    val got = Dedup.simhashPairs(fps, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set(
      (1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0),
      (1L, 9L, 1), (2L, 9L, 1), (3L, 9L, 1)))
    graft.ops.Caches.release()
  }

  test("star edges keep transitive closure: clusters match the brute-force components") {
    // a 300-member identity group (over maxIdentity=256) plus a
    // near-miss neighbor of the group fp: stars + the rep-level pair
    // must yield ONE component containing all 301 ids
    val fps = ((1L to 300L).map(i => (i, 1024L)) :+ (400L, 1025L))
      .toDF("id", "fp")
    val pairs = Dedup.simhashPairs(fps, maxHamming = 3)
    val comp = Dedup.clusters(pairs)
    assert(comp.select(col("label")).distinct().count() == 1L)
    assert(comp.count() == 301L)
    graft.ops.Caches.release()
  }

  test("bucket valve: hot chunk buckets drop; first-agreeing-chunk rule is strict") {
    // chunk 0 bucket 0x1111 is flooded (14 members > maxBucket=10).
    // A,B agree ONLY there -> lost. E,F ALSO agree in cold chunks 2,3
    // but their FIRST agreeing chunk is the hot one -> still lost (the
    // documented strict rule). C,D's first agreeing chunk is cold -> kept.
    val a = 0xA00AC00CB00B1111L
    val b = a ^ 0x0002000200020000L // one bit in each of chunks 1..3
    val c = 0x0055004400330001L
    val d = 0x0055004400330002L // c0 differs by 2 bits; chunks 1-3 agree
    val e = 0x00E3999900E11111L
    val f = 0x00E3999900E21111L // chunk 1 differs by 2 bits; 0,2,3 agree
    // fillers: weight-2 16-bit codes, pairwise hamming >= 6 across the
    // three high chunks; all share the hot chunk-0 value
    val fillerCodes = Seq(3L, 5L, 6L, 9L, 10L, 12L, 17L, 18L, 20L, 24L)
    val fillers = fillerCodes.zipWithIndex.map { case (v, i) =>
      (7L + i, (v << 48) | (v << 32) | (v << 16) | 0x1111L)
    }
    val fps = (Seq((1L, a), (2L, b), (3L, c), (4L, d), (5L, e), (6L, f)) ++
      fillers).toDF("id", "fp")
    val valved = Dedup.simhashPairs(fps, maxHamming = 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(valved == Set((3L, 4L, 2)))
    val open = Dedup.simhashPairs(fps, maxHamming = 3, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(open == Set((1L, 2L, 3), (3L, 4L, 2), (5L, 6L, 2)))
    graft.ops.Caches.release()
  }

  test("census correction: a bucket raw-hot only through a collapsed flood survives") {
    // 300 identical fps (over maxIdentity=16 -> collapse to one banded
    // representative) share chunk-0 value 0x1111 with 10 DISTINCT near
    // fps. The raw chunk-0 census reads 310 > maxBucket=64, but the
    // POST-collapse population is 1 + 10 = 11 -- the driver correction
    // (raw minus g-1 per oversized group) must keep the bucket, or the
    // rep-vs-near pairs (whose FIRST agreeing chunk is chunk 0) are
    // silently lost. This pins the round-18 single-probe rework's
    // trickiest step.
    val F = 0x1111L
    val flood = (1L to 300L).map(i => (i, F))
    val near = (1 to 10).map(i => (1000L + i, F + (i.toLong << 16)))
    val fps = (flood ++ near).toDF("id", "fp")
    val got = Dedup.simhashPairs(fps, maxHamming = 3,
        maxIdentity = 16, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    graft.ops.Caches.release()
    // star edges for the flood (rep = min id 1)
    (2L to 300L).foreach(i => assert(got.contains((1L, i, 0)),
      s"star edge to $i missing"))
    // the rep still pairs with every near fp at hamming = popcount(i)
    (1 to 10).foreach { i =>
      assert(got.contains((1L, 1000L + i, java.lang.Long.bitCount(i.toLong))),
        s"rep-near pair $i lost: the census correction failed")
    }
  }

  test("hammingBucketStats surfaces the buckets the valve would drop") {
    // all 12 rows share chunk 0 = 0x1111 AND chunks 2,3 = 0; id 99
    // adds one more member to (2, 0) and (1, 0) — top bucket (2, 0)
    // has 13, then (3, 0) with 12 (id 99's chunk 3 is 0x7777)
    val fps = ((1L to 12L).map(i => (i, (i << 16) | 0x1111L)) :+
      (99L, 0x7777000000000000L)).toDF("id", "fp")
    val top = Dedup.hammingBucketStats(fps, maxHamming = 3)
      .limit(3).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(top == Set((2, 0L, 13L), (0, 0x1111L, 12L), (3, 0L, 12L)))
  }

  test("crossPairs: valve drops shared hot buckets; collapseIdentityFps keeps existence") {
    // prior holds 12 distinct fps sharing chunk-0 value 0x2222 (hot at
    // maxBucket=10) plus one isolated fp; a probe matching only
    // through the hot bucket is lost, a probe matching the isolated fp
    // through a cold first chunk is kept
    val fillerCodes = Seq(3L, 5L, 6L, 9L, 10L, 12L, 17L, 18L, 20L, 24L, 33L, 34L)
    val prior = (fillerCodes.zipWithIndex.map { case (v, i) =>
      (100L + i, (v << 48) | (v << 32) | (v << 16) | 0x2222L)
    } :+ (200L, 0x00550044003300F0L)).toDF("id", "fp")
    val probe = Seq(
      // hits prior 100 at hamming 2, agreeing ONLY in the hot chunk-0
      // bucket -> lost under the valve
      (1L, (3L << 48) | (3L << 32) | (5L << 16) | 0x2222L),
      // hits prior 200 at hamming 2 (chunk 0: 0xF0^0xF3); first
      // agreeing chunk is the cold (1, 0x0033) bucket -> kept
      (2L, 0x00550044003300F3L))
      .toDF("id", "fp")
    val got = Dedup.simhashCrossPairs(probe, prior, maxHamming = 3, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((2L, 200L, 2)))
    // identity collapse on the prior: 500 copies of one fp collapse to
    // the min id; an exact-match probe still reports existence
    val dupPrior = (1L to 500L).map(i => (1000L + i, 0x1234123412341234L))
      .toDF("id", "fp")
    val collapsed = Dedup.collapseIdentityFps(dupPrior)
    assert(collapsed.count() == 1L)
    val hit = Dedup.simhashCrossPairs(
      Seq((7L, 0x1234123412341234L)).toDF("id", "fp"), collapsed, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hit == Set((7L, 1001L, 0)))
    graft.ops.Caches.release()
  }

  test("ngram jaccard verifies on LSH candidates") {
    val pairs = Dedup.ngramJaccardNearDups(docs, "text", "doc_id", threshold = 0.5, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("oversized LSH buckets are dropped (skew guard)") {
    // 60 identical docs -> one bucket of 60 per band; cap at 10 kills it
    val many = (1L to 60L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(many, "text", "doc_id", maxBucket = 10)
    assert(capped.count() == 0)
    val uncapped = Dedup.minhashCandidates(many, "text", "doc_id", maxBucket = 1000)
    assert(uncapped.count() == 60L * 59 / 2)
  }

  test("lshPlan picks the S-curve-optimal divisor split") {
    // brute-force replica over all divisor splits with independent
    // integration (trapezoid at 10x granularity) — the chosen split
    // must minimize the weighted error within integration tolerance
    def errOf(b: Int, r: Int, t: Double, wFp: Double, wFn: Double): Double = {
      val steps = 10000
      (0 until steps).map { i =>
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        (if (s < t) wFp * p else wFn * (1.0 - p)) / steps
      }.sum
    }
    for (t <- Seq(0.3, 0.5, 0.77, 0.9); n <- Seq(16, 64, 128)) {
      val (b, r) = Dedup.lshPlan(t, n)
      assert(b * r == n)
      val mine = errOf(b, r, t, 0.5, 0.5)
      val best = (1 to n).filter(n % _ == 0)
        .map(bb => errOf(bb, n / bb, t, 0.5, 0.5)).min
      assert(mine <= best + 1e-4, s"t=$t n=$n got ($b,$r)")
    }
    // the documented near-dup operating point: 64 perms at ~0.77 should
    // land near the engine's tuned 8x8 default
    val (b77, r77) = Dedup.lshPlan(0.77, 64)
    assert(b77 * r77 == 64 && r77 >= 4 && r77 <= 16)
    // asymmetric weights move the knee: punishing false negatives
    // (recall-hungry dedup) never DECREASES band count
    val (bFn, _) = Dedup.lshPlan(0.77, 64, fpWeight = 0.1, fnWeight = 0.9)
    assert(bFn >= b77)
  }

  test("minhashNearDupsAt wires lshPlan banding into the LSH pipeline") {
    import spark.implicits._
    // planted EXACT duplicates (identical signatures share EVERY band —
    // found under ANY banding, so the assertion is deterministic) among
    // structurally distinct filler docs
    def doc(stem: String): String =
      (0 until 40).map(i => s"$stem${i}word").mkString(" ")
    val rows = (0 until 30).map(i => (i.toLong, doc(s"u$i"))) ++
      Seq((100L, doc("u3")), (101L, doc("u7"))) // copies of 3 and 7
    val df = rows.toDF("doc_id", "text")
    val got = Dedup.minhashNearDupsAt(df, "text", "doc_id", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((3L, 100L), (7L, 101L)))
    // the planned path IS minhashNearDups at lshPlan's split — one
    // body, two spellings
    val (bands, rows9) = Dedup.lshPlan(0.9, 64)
    assert(bands * rows9 == 64 && rows9 > 8) // 0.9 plans STRICTER than 8x8
    val explicit = Dedup
      .minhashNearDups(df, "text", "doc_id", threshold = 0.9,
        numPerms = 64, bands = bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(explicit == got)
  }

  test("planted-family fixture: all three Murmur3 chains emit exactly the trio pairs (the q165/q166/q167 truth)") {
    // 4 families x 5 members: members 0-2 share one family text,
    // members 3-4 are doc-unique — the gate fixture in miniature.
    // Every chain must emit exactly the within-family trio pairs at
    // its perfect score (jaccard 1.0 / hamming 0) and nothing else.
    def famText(g: Long) = ('a' to 'h').map(x => s"fam$g$x").mkString(" ")
    def soloText(i: Long) = ('a' to 'h').map(x => s"solo$i$x").mkString(" ")
    val rows = (0L until 20L).map(i =>
      (i, if (i % 5 <= 2) famText(i / 5) else soloText(i)))
    val df = rows.toDF("doc_id", "text")
    val want = (0L until 4L).flatMap { g =>
      val m = Seq(5 * g, 5 * g + 1, 5 * g + 2)
      for (a <- m; b <- m if a < b) yield (a, b)
    }.toSet
    val mh = Dedup.minhashNearDups(df, "text", "doc_id", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(mh.map(t => (t._1, t._2)).toSet == want, s"minhash: ${mh.toSeq}")
    assert(mh.forall(_._3 == 1.0), "minhash jaccard must be exactly 1.0")
    val ng = Dedup.ngramJaccardNearDups(df, "text", "doc_id", threshold = 0.5, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ng.map(t => (t._1, t._2)).toSet == want, s"ngram: ${ng.toSeq}")
    assert(ng.forall(_._3 == 1.0), "ngram jaccard must be exactly 1.0")
    val sh = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(sh.map(t => (t._1, t._2)).toSet == want, s"simhash: ${sh.toSeq}")
    assert(sh.forall(_._3 == 0), "simhash hamming must be exactly 0")
    graft.ops.Caches.release()
  }
}
